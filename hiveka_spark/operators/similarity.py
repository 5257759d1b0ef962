"""Embedding similarity search: brute-force cosine top-k (exact baseline) and
random-hyperplane LSH bucketing (the approximate scale path).

Scale design:
- Cosine is computed with integer-quantized components: cast each float to
  round(x * 10^4) bigint, dot/norms become exact integer arithmetic (< 2^53),
  and the final cos = dot / (sqrt(na)*sqrt(nb)) is a deterministic IEEE
  expression — bit-identical across engines (this is what makes the DuckDB
  oracle exact) and associativity-independent (safe under any partitioning).
- Brute force broadcasts the (small) query set against the corpus — a
  map-only pass + per-query top-k aggregate.  Exact, O(|Q|*|C|).
- LSH path: sign-bit buckets from deterministic pseudo-random hyperplanes;
  the join key is the bucket id, so candidate generation is an equi-join.
  Recall tuning = number of planes (bucket granularity) x multi-probe.
- Embedding-cosine near-dup: all-bucket-local pairs above a threshold.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from hiveka_spark import commit
from hiveka_spark.sqlexpr import bigint_array_lit, qident

QUANT = 10000  # fixed-point scale for engine-exact cosine


def _scan_parallelism(df: DataFrame, target: int) -> int:
    """Estimated scan-side parallelism, cheap-path first.

    When the frame is file-backed with FEWER files than ``target``, return
    the file count from catalog metadata alone — the count can only
    UNDERestimate split parallelism in that direction (a big file splits
    into more partitions, never fewer), so the repartition guard may fire
    unnecessarily, and the cost of that mistake is one exchange of slim
    rows.  With MANY files the file count can OVERestimate real
    parallelism (Spark bin-packs tiny files into few FilePartitions via
    maxPartitionBytes/openCost), which would silently DISABLE the guard —
    the expensive mistake — so that case, and non-file frames, fall back
    to the real partition count via the RDD (forces plan translation, no
    job; acceptable exactly where the input is already large)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < target:
        return len(files)
    return df.rdd.getNumPartitions()


def quantized(col: str) -> Column:
    """array<float> column ``col`` -> array<bigint> fixed-point at 1e-4
    resolution.

    The component is cast to DOUBLE before the multiply: float32 * int runs
    in float32, where x * 1e4 can land within half an ulp of a .5 boundary
    that the true double product is on the other side of (observed: float
    -0.042849998921 -> float32 product exactly -428.5 -> HALF_UP -429, vs
    the double product -428.49998921 -> -428).  Every SQL oracle promotes
    float to double before arithmetic, so double-first is the portable
    semantic."""
    return F.expr(
        f"transform({qident(col)}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {QUANT}, 0) AS BIGINT))"
    )


def with_quantized_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    # qnorm2 references the qvec COLUMN: CollapseProject keeps the two
    # Projects separate (qvec is referenced twice and non-cheap), so qvec
    # is computed ONCE per row instead of being inlined into qnorm2 — the
    # extra Project fuses into the same WholeStageCodegen span
    return df.withColumn("qvec", quantized(vec_col)).withColumn(
        "qnorm2",
        F.expr(
            "aggregate(zip_with(qvec, qvec, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ),
    )


def dot_sql(a: str, b: str) -> str:
    """Integer dot product of two array<bigint> SQL expressions as SQL
    text.  An unrolled element_at expansion was measured ~2x SLOWER at
    runtime than this higher-order form on the x139 candidate join (64
    bounds/null checks per side beat the primitive-array loop), so the
    zip_with form stays; the per-ROW unpack of :func:`_unpack_qv_sql` is
    what removes the interpreted per-pair fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def cosine_sql(qa: str, qb: str, na2: str, nb2: str) -> Column:
    """cos = dot(qa, qb) / (sqrt(na2) * sqrt(nb2)) over quantized arrays
    and their bigint squared norms: an all-integer dot and one double
    division, so the value is deterministic and engine-exact."""
    return F.expr(f"{dot_sql(qa, qb)} / (SQRT({na2}) * SQRT({nb2}))")


#: Embedding dimensionality of the scoring surfaces — the scalar-unpacked
#: scoring joins (see :func:`_unpack_qv_sql`) extract exactly this many
#: components per side.
SCORE_DIM = 64


def _unpack_qv_sql(arr: str, prefix: str, dim: int = SCORE_DIM) -> list[str]:
    """One scalar bigint column per vector component, as ``expr AS alias``
    SQL strings for one ``selectExpr`` call, extracted ONCE PER ROW before
    a scoring join: the aggregate(zip_with(...)) dot product is an
    INTERPRETED higher-order function evaluated once per candidate PAIR —
    at candidates-per-query ~ corpus*n_probe/n_cells that is the dominant
    executor cost of every bulk ANN join.  Over scalar columns the pair
    dot compiles to plain whole-stage-codegen multiply-adds (the same
    trick _pq_subvectors documents for the encode join, ~5x there).
    Unrolling element_at at the PAIR level was measured ~2x slower
    (dot_sql's note) — the win comes from paying the per-component
    extraction once per ROW, never per pair.

    ``dim`` must match the vectors (callers with non-default dims pass it
    explicitly, like the PQ seams).  A mismatch fails LOUDLY either way —
    shorter AND longer arrays hit the size guard's raise_error on the
    last component; without the guard a longer vector would silently
    score on its first ``dim`` components only.  NULL arrays stay NULL
    (the explicit IS NULL arm is config-independent, unlike a
    ``size(NULL) = -1`` probe, which flips to NULL under ANSI mode), as
    the interpreted zip_with form did."""
    cols = [
        f"element_at({arr}, {i + 1}) AS {prefix}{i}" for i in range(dim - 1)
    ]
    cols.append(
        f"IF({arr} IS NULL OR size({arr}) = {dim}, element_at({arr}, {dim}), "
        f"raise_error(concat('scalar scoring dim mismatch: expected "
        f"{dim}, got ', CAST(size({arr}) AS STRING)))) AS {prefix}{dim - 1}"
    )
    return cols


def scalar_cosine_floor(
    qp: str, cp: str, na2: str, nb2: str, dim: int = SCORE_DIM
) -> Column:
    """Floor-quantized 4-dp cosine over scalar component columns —
    bit-identical to ``F.floor(cosine_sql(...) * 10000.0) / 10000.0``
    (bigint dot is associative, the division and quantization are the
    same double arithmetic; the divisor is cast so the SQL literal cannot
    parse as DECIMAL and change the result type)."""
    dot = " + ".join(f"{qp}{i} * {cp}{i}" for i in range(dim))
    return F.expr(
        f"FLOOR(({dot}) / (SQRT({na2}) * SQRT({nb2})) * 10000.0) "
        "/ CAST(10000.0 AS DOUBLE)"
    )


def scalar_l2(ap: str, bp: str, dim: int = SCORE_DIM) -> Column:
    """Bigint squared-L2 over scalar component columns — bit-identical to
    the zip_with fold of :func:`_cell_scored_arr_sql` (integer arithmetic,
    associative), codegen'd instead of interpreted per pair (see
    :func:`_unpack_qv_sql`)."""
    return F.expr(
        " + ".join(f"({ap}{i} - {bp}{i}) * ({ap}{i} - {bp}{i})" for i in range(dim))
    ).cast("bigint")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every corpus vector,
    rank per query with a deterministic tiebreak (cos desc, corpus id asc).

    Output: query_id, neighbor_id, cosine (floor-quantized 4dp), rank.
    """
    # scalar-unpacked scoring (see _unpack_qv_sql): per-pair cosine is
    # codegen'd multiply-adds, extraction paid once per row
    c = with_quantized_norm(corpus, vec_col).selectExpr(
        f"{qident(id_col)} AS neighbor_id", "qnorm2 AS cn2",
        *_unpack_qv_sql("qvec", "c_", dim),
    )
    q = with_quantized_norm(queries, vec_col).selectExpr(
        f"{qident(id_col)} AS query_id", "qnorm2 AS qn2",
        *_unpack_qv_sql("qvec", "q_", dim),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", scalar_cosine_floor("q_", "c_", "qn2", "cn2", dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def plane_weights(n_planes: int, dim: int, tag: str = "") -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-500, 499], derived from
    md5("plane{tag}{p}_{i}") — reproducible in pure Python, Spark, and DuckDB,
    so LSH bucket assignment is engine-exact (integer dot products, no float
    sign flips near zero) and the ANN entry carries a full SQL oracle.
    ``tag`` namespaces independent hash tables (multi-table LSH)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"plane{tag}{p}_{i}".encode()).hexdigest()[:15], 16) % 1000 - 500
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket(qvec_col: str, n_planes: int, dim: int, tag: str = "") -> Column:
    """Sign-bit bucket id from deterministic hyperplanes over the QUANTIZED
    vector column ``qvec_col``: dot products are exact bigint arithmetic
    (|qv| <= 1e4ish, |w| <= 500, dim 64 => |dot| < 2^30), so the bucket is
    order- and engine-independent.  Bit p is set iff the dot with plane p
    of :func:`plane_weights` is > 0.  The planes and the bit weights are
    array literals inside the parsed expression, one plan node each."""
    planes = "array(" + ", ".join(
        bigint_array_lit(w) for w in plane_weights(n_planes, dim, tag)
    ) + ")"
    pows = bigint_array_lit(2**p for p in range(n_planes))
    return F.expr(
        f"aggregate(zip_with(transform({planes}, "
        f"w -> aggregate(zip_with({qident(qvec_col)}, w, (a, b) -> a * b), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)), "
        f"{pows}, (d, pw) -> CASE WHEN d > 0 THEN pw "
        "ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH bucket
    (equi-join on bucket id — the candidate set shrinks ~2^-planes).

    multi_probe additionally probes every bucket at Hamming distance 1 from
    the query's (flip each sign bit once): the query side explodes into
    n_planes+1 probe rows so the join STAYS an equi-join on bucket — the
    shape that survives 100 TB — while recall roughly doubles.  Probe buckets
    are distinct and each corpus vector lives in one bucket, so no dedup of
    candidate pairs is needed.  Recall vs brute force is property-tested.
    """
    c = with_quantized_norm(corpus, vec_col).withColumn(
        "bucket", lsh_bucket("qvec", n_planes, dim)
    )
    q = with_quantized_norm(queries, vec_col).withColumn(
        "bucket", lsh_bucket("qvec", n_planes, dim)
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2 ** p).cast("bigint")) for p in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    # scalar-unpacked scoring (see _unpack_qv_sql)
    cc = c.selectExpr(
        f"{qident(id_col)} AS neighbor_id", "qnorm2 AS cn2",
        "bucket", *_unpack_qv_sql("qvec", "c_", dim),
    )
    qq = q.selectExpr(
        f"{qident(id_col)} AS query_id", "qnorm2 AS qn2",
        "bucket", *_unpack_qv_sql("qvec", "q_", dim),
    )
    scored = (
        cc.join(F.broadcast(qq), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", scalar_cosine_floor("q_", "c_", "qn2", "cn2", dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _cell_centroids(
    v: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    centroid_stride: int | None,
    centroids: DataFrame | None,
) -> DataFrame:
    """Resolve the (cell, cvec, cn2) centroid frame for IVF-style operators.

    Primary interfaces, in precedence order:
    - ``centroids``: an explicit (cell: bigint, <vec_col>: array) DataFrame —
      the PRODUCTION path.  At 100 TB centroids are trained offline (k-means
      on a sample) and handed in; they are quantized here and broadcast, so
      the search plan never scans the corpus to derive them.
    - ``centroid_stride``: deterministic id-stride sampling — centroid c is
      the corpus vector with id = c*stride.  Still zero extra corpus passes
      (the filter rides the same scan that feeds cell assignment).
    - neither: stride = max(count//n_cells, 1) via a full ``corpus.count()``.
      SMALL-SCALE FALLBACK ONLY — the count is an extra full pass over the
      corpus before any real work and is the one thing here that does not
      survive 100 TB (VERDICT r4 #4); callers at scale pass one of the above.
    """
    if centroids is not None:
        return with_quantized_norm(centroids, vec_col).select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("qvec").alias("cvec"),
            F.col("qnorm2").alias("cn2"),
        )
    stride = centroid_stride or max(corpus.count() // n_cells, 1)
    return v.filter(
        (F.col(id_col) % stride == 0) & (F.col(id_col) / stride < n_cells)
    ).select(
        (F.col(id_col) / stride).cast("bigint").alias("cell"),
        F.col("qvec").alias("cvec"),
        F.col("qnorm2").alias("cn2"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroid_stride: int | None = None,
    centroids: DataFrame | None = None,
    broadcast_queries: bool = True,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` Voronoi cells around deterministic centroids; each query
    scores only vectors in its ``n_probe`` nearest cells.

    Centroid source — see :func:`_cell_centroids`: pass ``centroids``
    (offline-trained, the production path) or ``centroid_stride``
    (deterministic id-stride sampling, zero extra corpus passes); omitting
    both falls back to a full corpus.count() and is for small-scale use only.
    Cell assignment is an argmax of integer dot products against the
    broadcast centroid set, candidates come from an equi-join on cell id.
    Corpus-side work per query drops ~n_probe/n_cells; everything stays
    exact-integer so the DuckDB oracle replays it.

    ``broadcast_queries`` (default True) is the online-serving contract —
    a bounded probe batch rides a driver broadcast into the cell join.
    For BULK scoring (kNN graph, query side corpus-sized — gate x139)
    pass False: both sides then shuffle on ``cell``, which is the only
    plan that survives a corpus-sized query table (same knob as
    ivf_index_topk).
    """
    v = with_quantized_norm(corpus, vec_col)
    cents = _cell_centroids(
        v, corpus, id_col, vec_col, n_cells, centroid_stride, centroids
    )

    def nearest_cells(side: DataFrame, n: int) -> DataFrame:
        """Attach the n nearest cell ids (by cosine to centroid) to each row."""
        scored = side.crossJoin(F.broadcast(cents)).withColumn(
            "c_cos", cosine_sql("qvec", "cvec", "qnorm2", "cn2")
        )
        w = Window.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("cell"))
        return (
            scored.withColumn("c_rank", F.row_number().over(w))
            .filter(F.col("c_rank") <= n)
            .drop("cvec", "cn2", "c_cos", "c_rank")
        )

    # scoring sides unpacked to scalar component columns ONCE PER ROW so
    # the candidate-pair cosine is codegen'd multiply-adds instead of an
    # interpreted per-pair zip_with (see _unpack_qv_sql)
    c = nearest_cells(v, 1).selectExpr(
        f"{qident(id_col)} AS neighbor_id", "qnorm2 AS cn2",
        "cell", *_unpack_qv_sql("qvec", "c_", dim),
    )
    q = nearest_cells(queries.transform(lambda d: with_quantized_norm(d, vec_col)), n_probe).selectExpr(
        f"{qident(id_col)} AS query_id", "qnorm2 AS qn2",
        "cell", *_unpack_qv_sql("qvec", "q_", dim),
    )
    scored = (
        c.join(F.broadcast(q) if broadcast_queries else q, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", scalar_cosine_floor("q_", "c_", "qn2", "cn2", dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    # no dedup needed: each corpus vector lives in exactly one cell and probe
    # cells are distinct, so a (query, neighbor) pair joins at most once
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _pq_sub_from_qv(
    df: DataFrame, out_id: str, m: int, dsub: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *keep, sub, sv_0..sv_{dsub-1}) from a frame already carrying the
    (quantized or residual) array as ``_qv`` and the id as ``_id`` — shared
    by _pq_subvectors, ivfpq_topk, and ivfpq_residual_topk so the
    subspace-extraction expression exists exactly once.  ``keep`` columns
    (the residual path carries the cell id) pass through untouched."""
    # ONE parsed SQL string: built as m*dsub Column constructions, this
    # expression measured ~0.5 s of driver time per build at dim 64
    subs = ", ".join(
        f"struct(CAST({s} AS BIGINT) AS sub, "
        + ", ".join(
            f"element_at(_qv, {s * dsub + i + 1}) AS sv_{i}" for i in range(dsub)
        )
        + ")"
        for s in range(m)
    )
    return df.select(
        F.col("_id").alias(out_id), *keep, F.expr(f"inline(array({subs}))")
    )


def _pq_subvectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    m: int,
    dsub: int,
    rotate: list[tuple[list[int], int]] | None = None,
) -> DataFrame:
    """(id, sub, sv_0..sv_{dsub-1}): quantized dsub-slice per subspace as
    SCALAR columns, not an array — pair distances over them compile to
    plain codegen arithmetic instead of interpreted higher-order array
    functions (zip_with/aggregate don't whole-stage-codegen; the scalar
    form measured ~5x faster on the encode join).  The quantized array is
    materialized ONCE per row first — element_at over the raw transform
    expression would re-evaluate the (interpreted) lambda once per
    extracted component, m*dsub = dim times per row.  ``rotate`` applies
    an OPQ Householder chain (:func:`opq_householder_chain`) to the
    quantized array before the subspace split — the rotation seam of the
    PQ coding path (x140)."""
    base = df.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    if rotate:
        base = _opq_apply(base, rotate)
    return _pq_sub_from_qv(base, out_id, m, dsub)


def pq_subvectors_shared(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    dim: int = 64,
    rotate: list[tuple[list[int], int]] | None = None,
) -> DataFrame:
    """The subvector frame MATERIALIZED for sharing:
    id-hash-repartitioned to the cluster's parallelism and eagerly
    checkpointed, so (a) every consumer (each Lloyd pass of
    :func:`train_pq_codebooks`, the encode/distortion passes of
    x136/x140-style gates) reads the slim materialized rows instead of
    replaying scan + OPQ rotation + subspace split per pass, and (b) the
    (_id, sub)-keyed argmin aggregates downstream are EXCHANGE-FREE —
    HashPartitioning(_id) satisfies the (_id, sub) clustering, so the one
    repartition here replaces a corpus-sized exchange per pass.  Rows are
    identical to :func:`_pq_subvectors`; only the physical layout
    changes."""
    c_sub = _pq_subvectors(corpus, id_col, vec_col, "_id", m, dim // m, rotate)
    target = corpus.sparkSession.sparkContext.defaultParallelism
    return c_sub.repartition(target, F.col("_id")).localCheckpoint(eager=True)


def _pq_cands(cents: DataFrame, dsub: int) -> DataFrame:
    """(sub, _cands) — the codebook pre-grouped into ONE array of
    (code, cv_0..cv_{dsub-1}) structs per subspace (bounded: n_centroids
    elements), the broadcast shape :func:`_pq_best` consumes."""
    return cents.groupBy("sub").agg(
        F.collect_list(
            F.struct("code", *[f"cv_{i}" for i in range(dsub)])
        ).alias("_cands")
    )


def _pq_best(c_sub: DataFrame, cents: DataFrame, dsub: int) -> DataFrame:
    """Per-row PQ code assignment: attach each
    subvector row's nearest codeword as (code, d2) WITHOUT the old
    join-explosion argmin.  The old shape — broadcast-join the codebook
    on `sub` (xN_centroids row multiplication), then
    ``groupBy(keys).agg(min(struct(d2, code)))`` — planned as a
    SortAggregate (struct-typed min never hash-aggregates), i.e. a SORT
    of the n_centroids-times-expanded corpus per task plus a corpus-sized
    Exchange per encode pass.  Here the codebook is pre-grouped into one
    bounded candidate array per subspace (:func:`_pq_cands`),
    broadcast-joined WITHOUT row multiplication, and the argmin is
    ``array_min`` over per-candidate (d2, code) structs — least-struct
    comparison is the same (d2 ASC, code ASC) total order (codes are
    distinct per subspace), so the assignment is bit-identical while the
    Sort and the Exchange disappear from every consumer (the Lloyd loop,
    the serving encodes, the distortion passes).  Keeps every c_sub
    column and appends (code, d2)."""

    # ONE parsed SQL string for the candidate-scoring lambda: dsub
    # difference-square terms per candidate struct as Column nodes were a
    # measurable driver cost per gate
    d2_sql = " + ".join(
        f"(sv_{i} - c.cv_{i}) * (sv_{i} - c.cv_{i})" for i in range(dsub)
    )
    best = F.expr(
        "array_min(transform(_cands, c -> "
        f"struct(CAST({d2_sql} AS BIGINT) AS d2, c.code AS code)))"
    )
    return (
        c_sub.join(F.broadcast(_pq_cands(cents, dsub)), "sub")
        .withColumn("_best", best)
        .drop("_cands")
        .withColumn("code", F.col("_best.code"))
        .withColumn("d2", F.col("_best.d2"))
        .drop("_best")
    )


def _pq_d2(dsub: int, a_prefix: str, b_prefix: str) -> Column:
    """Sum of squared component deltas — pure codegen-able bigint math,
    built as ONE parsed SQL string."""
    terms = " + ".join(
        f"({a_prefix}{i} - {b_prefix}{i}) * ({a_prefix}{i} - {b_prefix}{i})"
        for i in range(dsub)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def _trunc_div(a: int, b: int) -> int:
    """Truncating integer division — Spark ``DIV`` / DuckDB ``//``
    semantics (toward zero) for the driver-side rotation construction;
    Python's ``//`` floors toward -inf and would drift on negatives."""
    q = a // b
    if q < 0 and q * b != a:
        q += 1
    return q


def opq_householder_chain(
    dirs: list[list[int]],
    axes: list[int] | None = None,
) -> list[tuple[list[int], int]]:
    """OPQ-style rotation front (Ge et al. 2014) from learned principal
    directions — the Householder QR chain that maps direction ``j`` onto
    coordinate axis ``axes[j]`` (default ``j``).  This is the consumer of
    x129's block-power-iteration basis (round-14 verdict #1): ``dirs`` is
    the quantized (bigint) top-m basis, extended to a full-dim orthogonal
    map by padding with the identity on the untouched coordinates (each
    reflection fixes all previously targeted axes exactly: the reflector
    is zeroed there).

    ``axes`` is the SUBSPACE-BALANCING knob (round-15 verdict #3): with
    the default sequential targets, every learned direction lands in the
    FIRST PQ subspace, overloading its centroid budget while the others
    code noise — the measured failure mode of a width-4 front at dsub 4.
    Passing ``axes=[j * dsub for j in range(m)]`` sends one direction to
    the leading coordinate of EACH subspace instead — Ge et al.'s
    variance-balancing objective in Householder form (the planted-cluster
    win is pinned in tests/test_opq.py).

    Integer-exact and bounded (m reflections over dim-sized vectors,
    driver-side — no corpus access), replayed verbatim by the x140
    oracle: ``s_j = isqrt(sum of squares over non-fixed coords)``
    (floor), the reflector sign chosen AWAY from cancellation
    (``u_t = v_t + sign(v_t) * s``), every division truncating.  (A
    direction's residue on already-fixed axes is a few truncation quanta
    by Gram-Schmidt orthogonality; the reflector zeroes those coords, so
    fixed axes stay EXACTLY fixed.)  Returns ``[(u, <u,u>), ...]``; hand
    to the ``rotate=`` parameter of :func:`train_pq_codebooks` /
    :func:`pq_topk`.  Each reflection ``x -> x - (2 <x,u> u) DIV <u,u>``
    is exactly orthogonal up to the +-1 integer-truncation quantum per
    component, so rotated-space distances track original-space distances
    to the same quantum."""
    import math

    if axes is None:
        axes = list(range(len(dirs)))
    if len(axes) != len(dirs) or len(set(axes)) != len(axes):
        raise ValueError(f"axes must be distinct, one per direction: {axes}")

    chain: list[tuple[list[int], int]] = []

    def reflect(v: list[int], u: list[int], uu: int) -> list[int]:
        dot = sum(x * y for x, y in zip(v, u))
        return [x - _trunc_div(2 * dot * uc, uu) for x, uc in zip(v, u)]

    for j, v in enumerate(dirs):
        v = [int(x) for x in v]
        for u, uu in chain:
            v = reflect(v, u, uu)
        fixed = set(axes[:j])
        t = axes[j]
        s = math.isqrt(
            sum(x * x for c, x in enumerate(v) if c not in fixed)
        )
        sign = 1 if v[t] >= 0 else -1
        u = [
            0 if c in fixed else (x + sign * s if c == t else x)
            for c, x in enumerate(v)
        ]
        uu = sum(x * x for x in u)
        if uu == 0:
            # direction already (numerically) zero off the fixed axes
            continue
        chain.append((u, uu))
    return chain


#: conservative per-component bound on rotated quantized vectors handed to
#: _opq_apply: reflections preserve the L2 norm (up to the +-1 truncation
#: quantum per component per reflection), so any component is bounded by
#: ||qv||_2 <= sqrt(dim) * max|qv_0| ~ 8 * 3e4 = 2.4e5 for unit-ish
#: embeddings at QUANT=1e4 and dim 64; 2^18 = 262144 covers that with the
#: drift margin.  Raise explicitly at call sites with wilder inputs.
_OPQ_MAX_ABS_QV = 1 << 18


def _opq_headroom_guard(
    chain: list[tuple[list[int], int]], dim: int,
    max_abs_qv: int = _OPQ_MAX_ABS_QV,
) -> None:
    """int64-overflow guard for the reflection arithmetic (round-16 advice
    fix — the x119 guard pattern): the largest intermediate in
    ``x - (2 * dot * u) DIV uu`` is ``2 * dot * u`` with
    ``|dot| <= dim * max|qv| * max|u|``, so require
    ``2 * dim * max_abs_qv * max|u|^2 < 2^63``.  At dim 64 with the x129
    basis (|u| <= ~1.6e5) this passes with ~10x margin; at dim 1024 the
    true bound (~1.4e20) exceeds int64 and this RAISES instead of letting
    the rotated codes silently wrap."""
    u_max = max((max(abs(c) for c in u) for u, _ in chain), default=0)
    bound = 2 * dim * max_abs_qv * u_max * u_max
    if bound >= 2**63:
        raise ValueError(
            "OPQ reflection would overflow int64: "
            f"2 * dim({dim}) * max|qv|({max_abs_qv}) * max|u|({u_max})^2 "
            f"= {bound} >= 2^63; rescale the direction basis (or shrink "
            "the quantization) before building the chain"
        )


def _opq_apply(df: DataFrame, chain: list[tuple[list[int], int]]) -> DataFrame:
    """Apply a Householder chain to the ``_qv`` column (bigint array) —
    one staged select per reflection so the per-row dot product is
    evaluated ONCE, not re-evaluated per component inside the zip_with
    lambda.  Pure codegen-able integer arithmetic; the chain's u vectors
    are dim-sized SQL array literals (bounded: k * dim values).
    Headroom is GUARDED, not assumed (:func:`_opq_headroom_guard`):
    |dot| <= dim * max|qv| * max|u| ~ 64 * 2.6e5 * 1.6e5 = 2.7e12 and
    2*dot*u <= ~8.5e17 < 2^63 for the dim-64 x129 basis; larger dims must
    pass the guard or raise."""
    if chain:
        dim = max(len(u) for u, _ in chain)
        _opq_headroom_guard(chain, dim)
    for u, uu in chain:
        u_sql = bigint_array_lit(u)
        df = df.withColumn(
            "_dot",
            F.expr(
                f"aggregate(zip_with(_qv, {u_sql}, (x, y) -> x * y), "
                "0L, (a, x) -> a + x)"
            ),
        )
        # the IF references _dot TWICE, which stops CollapseProject from
        # inlining the single-use dot aggregate INTO the zip_with lambda
        # body — inlined, the dim-element dot re-evaluates once per output
        # component (O(dim^2) per row per reflection, plan-verified; the
        # exact pathology _pq_subvectors' docstring documents).  _dot is
        # never NULL (an aggregate over non-null ints), so the IF is
        # semantically identity; the barrier is pinned in tests/test_opq.py
        df = df.withColumn(
            "_qv",
            F.expr(
                f"IF(_dot IS NULL, _qv, zip_with(_qv, {u_sql}, "
                f"(x, u) -> x - (2 * _dot * u) DIV {int(uu)}L))"
            ),
        ).drop("_dot")
    return df


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    dim: int = 64,
    n_centroids: int = 64,
    centroid_stride: int = 7,
    n_iters: int = 4,
    rotate: list[tuple[list[int], int]] | None = None,
    subvectors: DataFrame | None = None,
) -> DataFrame:
    """Train per-subspace PQ codebooks with distributed Lloyd — the
    offline-codebook production posture pq_topk/ivfpq_topk document
    ("hand in k-means codebooks the same way"), made real.

    All m subspaces train JOINTLY in each pass: assignment is ONE
    broadcast join of the (sub, code) centroid frame against the
    subvector rows (equi-keyed on sub) + a map-side-combinable argmin;
    the update is ONE (sub, code)-keyed aggregate producing m*n_centroids
    rows with truncating-integer-division component means (engine-exact,
    same arithmetic as clustering.kmeans_lloyd).  Empty cells keep their
    previous centroid (left join + coalesce), so the codebook never
    shrinks.  Seeds are the same stride rows pq_topk defaults to, so
    n_iters=0 degenerates to the untrained codebook exactly.

    Returns (sub, code, cv_0..cv_{dsub-1}) — pq_topk/ivfpq_topk's
    ``codebooks`` shape.  Deterministic: stride seeds, integer means,
    (d2, code)-ascending tie-breaks.  ``rotate`` (a Householder chain
    from :func:`opq_householder_chain`) trains the codebooks in the
    ROTATED space — the OPQ posture; serve with the same chain handed to
    :func:`pq_topk`.

    ``subvectors``: a PRECOMPUTED subvector frame
    (:func:`pq_subvectors_shared`'s id-partitioned materialized shape, or
    any frame with _pq_subvectors' columns) — callers that also encode
    against the trained books hand it in so the scan + rotation +
    subspace split is paid ONCE instead of once per Lloyd pass per
    consumer, and the id-partitioning makes every per-pass argmin
    aggregate exchange-free.
    """
    dsub = dim // m
    c_sub = (
        subvectors
        if subvectors is not None
        else _pq_subvectors(corpus, id_col, vec_col, "_id", m, dsub, rotate)
    )
    cents = c_sub.filter(
        (F.col("_id") % centroid_stride == 0)
        & (F.col("_id") < F.lit(centroid_stride * n_centroids))
    ).select(
        F.expr(f"_id DIV {centroid_stride}").cast("bigint").alias("code"),
        "sub",
        *[F.col(f"sv_{i}").alias(f"cv_{i}") for i in range(dsub)],
    )
    return _pq_train_loop(c_sub, cents, dsub, n_iters)


def _pq_train_loop(
    c_sub: DataFrame, cents: DataFrame, dsub: int, n_iters: int
) -> DataFrame:
    """The per-subspace Lloyd loop of :func:`train_pq_codebooks`, factored
    so the residual-encoding path (:func:`ivfpq_residual_topk`) trains its
    codebooks over RESIDUAL subvectors with the byte-identical update rule
    (per-row broadcast-array argmin — :func:`_pq_best`: no corpus
    Sort/Exchange per pass — truncating-integer-division means,
    empty-cell keep)."""
    for _ in range(n_iters):
        # per-row argmin: each subvector row keeps its sv_* columns and
        # gains its nearest code — the old min(struct(d2, code, sv_*))
        # carried the row's own (constant) subvectors through the
        # comparator; (d2, code) was already the decisive total order
        assigned = _pq_best(c_sub, cents, dsub).select(
            "sub", "code", *[f"sv_{i}" for i in range(dsub)]
        )
        updated = assigned.groupBy("sub", "code").agg(
            *[
                F.expr(f"CAST(sum(sv_{i}) DIV count(sv_{i}) AS BIGINT)").alias(
                    f"nv_{i}"
                )
                for i in range(dsub)
            ]
        )
        cents = (
            cents.join(updated, ["sub", "code"], "left")
            .select(
                "sub",
                "code",
                *[
                    F.coalesce(f"nv_{i}", f"cv_{i}").alias(f"cv_{i}")
                    for i in range(dsub)
                ],
            )
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
    return cents


def _cell_cands(ccents: DataFrame) -> DataFrame:
    """ONE-row (_cc) frame holding every coarse centroid as an array of
    (cell, _cv) structs (bounded: n_cells elements) — the broadcast shape
    the per-row coarse argmin consumes: the old
    ``crossJoin(centroids) -> groupBy(_id).agg(min(struct(cd2, cell, ...)))``
    planned as a SortAggregate over the n_cells-times-expanded corpus
    plus a corpus-sized Exchange (the vector array riding the shuffle);
    scoring the candidate array per row keeps assignment map-only."""
    return ccents.agg(F.collect_list(F.struct("cell", "_cv")).alias("_cc"))


def _cell_scored_arr_sql(with_cv: bool = False) -> str:
    """SQL array of (cd2, cell[, _cv]) structs: the row's ``_qv`` scored
    against every candidate in the broadcast ``_cc`` array.  (cd2, cell)
    is a total order (cells are distinct), so ``array_min`` of it is the
    old min(struct) argmin bit-for-bit and ``array_sort`` + slice is the
    old (cd2, cell)-ascending row_number probe ranking; trailing fields
    (``_cv`` for the residual path) ride behind the decisive prefix
    exactly as they rode the old struct comparator.  Its bigint squared-L2
    is the ONE definition every coarse-quantizer site (ivfpq_topk,
    ivf_cell_stage, train_ivf_centroids) folds, so a tie-break or
    arithmetic tweak cannot drift between the seams the oracles certify
    as bit-equal."""
    cv = ", c._cv AS _cv" if with_cv else ""
    return (
        "transform(_cc, c -> struct("
        "aggregate(zip_with(_qv, c._cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS cd2, "
        f"c.cell AS cell{cv}))"
    )


def _stride_cells(v: DataFrame, cell_stride: int, n_cells: int) -> DataFrame:
    """Deterministic stride-seeded cell centroids (cell, _cv) off a
    (_id, _qv) frame — the shared untrained coarse quantizer."""
    return v.filter(
        (F.col("_id") % cell_stride == 0) & (F.col("_id") < F.lit(cell_stride * n_cells))
    ).select(
        F.expr(f"_id DIV {cell_stride}").cast("bigint").alias("cell"),
        F.col("_qv").alias("_cv"),
    )


def _coarse_stage(
    v: DataFrame, qv: DataFrame, ccents: DataFrame, n_probe: int
) -> tuple[DataFrame, DataFrame]:
    """Corpus cell assignment + per-query probe sets off a broadcast
    centroid frame — lazy; callers decide about materialization.

    Per-row broadcast-array argmin (:func:`_cell_cands`): the
    corpus side is MAP-ONLY (no n_cells row multiplication, no
    SortAggregate, no corpus Exchange); probe ranking is array_sort +
    slice per query row, the same (cd2, cell)-ascending order."""
    cands = _cell_cands(ccents)
    corp_cell = v.crossJoin(F.broadcast(cands)).select(
        "_id", F.array_min(F.expr(_cell_scored_arr_sql()))["cell"].alias("cell")
    )
    probes = (
        qv.crossJoin(F.broadcast(cands))
        .select(
            F.col("_id").alias("query_id"),
            F.explode(
                F.slice(F.array_sort(F.expr(_cell_scored_arr_sql())), 1, n_probe)
            ).alias("_s"),
        )
        .select("query_id", F.col("_s.cell").alias("cell"))
    )
    return corp_cell, probes


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    cell_stride: int = 31,
    n_iters: int = 1,
) -> DataFrame:
    """Train the COARSE quantizer's cell centroids with distributed Lloyd in
    quantized space — the ivfpq_topk ``cell_centroids`` production seam
    made real (the coarse twin of :func:`train_pq_codebooks`).

    Same engine-exact arithmetic as clustering.kmeans_lloyd: bigint
    squared-L2 assignment (argmin as a map-side-combinable min(struct)),
    truncating-integer-division component means via ONE (cell, pos)-keyed
    aggregate per pass, empty cells keep their previous centroid.  Seeds
    are the same stride rows ivfpq_topk defaults to, so n_iters=0
    degenerates to the untrained coarse quantizer exactly.

    Returns (cell: bigint, _cv: array<bigint>) in QUANTIZED units —
    exactly the frame ivfpq_topk broadcasts; a SQL oracle replays every
    pass bit-for-bit (the x61 trained-recall certification).
    """
    v = corpus.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    cents = _stride_cells(v, cell_stride, n_cells)

    for _ in range(n_iters):
        # per-row broadcast-array argmin: the vector stays on its
        # row — no n_cells expansion, no SortAggregate, no corpus
        # Exchange for the assignment; (cd2, cell) is the same total order
        assigned = v.crossJoin(F.broadcast(_cell_cands(cents))).select(
            F.array_min(F.expr(_cell_scored_arr_sql()))["cell"].alias("cell"), "_qv"
        )
        comp = (
            assigned.select("cell", F.posexplode("_qv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.expr("CAST(sum(val) DIV count(val) AS BIGINT)").alias("cval"))
        )
        trained = comp.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("_tv")
        )
        cents = (
            cents.join(trained, "cell", "left")
            .select("cell", F.coalesce("_tv", "_cv").alias("_cv"))
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
    return cents


def ivf_cell_stage(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    cell_centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The IVF coarse stage alone, materialized for sharing: corpus cell
    assignment (the one corpus-sized pass of an IVF build) + per-query
    probe sets, exactly as ivfpq_topk computes them internally.  Hand the
    result to several ``ivfpq_topk(..., cell_stage=...)`` calls to build
    multiple indexes (different codebooks, A/B certification like x61)
    over ONE coarse partition instead of re-assigning the corpus per
    index.  Both frames are localCheckpointed (corp_cell is corpus-sized
    but id+cell only; probes is |Q| * n_probe rows)."""
    v = corpus.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    qv = queries.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    ccents = (
        cell_centroids.select("cell", "_cv")
        if cell_centroids is not None
        else _stride_cells(v, cell_stride, n_cells)
    )
    corp_cell, probes = _coarse_stage(v, qv, ccents, n_probe)
    return (
        corp_cell.localCheckpoint(eager=True),
        probes.localCheckpoint(eager=True),
    )


def ivf_exact_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    cell_centroids: DataFrame | None = None,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """(query_id, neighbor_id, d2, probe_rank): EXACT bigint squared-L2
    scores of every corpus vector in each query's ``n_probe`` nearest
    cells, with the candidate cell's probe rank carried through.

    This is IVF with full-precision in-cell distances — recall loss comes
    ONLY from coarse-probe misses, so recall -> 1 monotonically as
    n_probe -> n_cells (the knob certified as a measured curve by gate
    x77).  Carrying ``probe_rank`` means ONE corpus cell-assignment pass
    and ONE candidates join serve a whole recall-vs-n_probe sweep:
    an arm at probe budget p is just ``filter(probe_rank <= p)`` + a
    per-query top-k window over these slim (query, candidate) rows.

    Scale shape: centroids broadcast (same L2 coarse seam as ivfpq_topk —
    stride cells by default, trained via ``cell_centroids``); corpus
    assignment is a map-side-combinable min(struct) argmin carrying the
    vector; the probe table (|Q| x n_probe rows + query vectors) is
    broadcast into the cell equi-join, so the corpus never shuffles."""
    v = corpus.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    qv = queries.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    ccents = (
        cell_centroids.select("cell", "_cv")
        if cell_centroids is not None
        else _stride_cells(v, cell_stride, n_cells)
    )
    # per-row broadcast-array argmin / sorted-slice probe ranking:
    # corpus assignment is map-only (vector stays on its row), probe_rank
    # is the array position of the (cd2, cell)-ascending sort — the same
    # order the old row_number ranked
    cands = _cell_cands(ccents)
    # scalar-unpacked candidate scoring (see _unpack_qv_sql)
    corp = v.crossJoin(F.broadcast(cands)).selectExpr(
        "_id AS neighbor_id",
        f"array_min({_cell_scored_arr_sql()}).cell AS cell",
        *_unpack_qv_sql("_qv", "c_", dim),
    )
    probes = (
        qv.crossJoin(F.broadcast(cands))
        .select(
            F.col("_id").alias("query_id"),
            F.col("_qv").alias("qqvec"),
            F.posexplode(
                F.slice(F.array_sort(F.expr(_cell_scored_arr_sql())), 1, n_probe)
            ).alias("_p", "_s"),
        )
        .selectExpr(
            "query_id",
            "_s.cell AS cell",
            "CAST(_p + 1 AS INT) AS probe_rank",
            *_unpack_qv_sql("qqvec", "q_", dim),
        )
    )
    return (
        corp.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            scalar_l2("q_", "c_", dim).alias("d2"),
            F.col("probe_rank").cast("bigint").alias("probe_rank"),
        )
    )


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """Serving-grade SECOND stage: full-precision bigint-L2 rerank of an
    ANN candidate pool — the standard search-then-rerank shape (FAISS
    refine / two-stage retrieval) that recovers the recall a compressed
    first stage (ADC) gives up to quantization error, while keeping the
    per-query cost bounded by the pool size, not the corpus.

    ``candidates``: (query_id, neighbor_id) from any first stage (e.g.
    ivfpq_topk at k = pool_size).  The pool (|Q| x pool rows) is
    BROADCAST against the corpus scan to fetch true vectors — an id-keyed
    hash semi-join, no corpus shuffle — then scored exactly and ranked
    (d2, neighbor_id) to top-``k``.  Recall after rerank is bounded only
    by pool coverage (did the first stage surface the true neighbor),
    which x77 measures arm-against-arm."""
    cand = candidates.select("query_id", "neighbor_id")
    # scalar-unpacked rerank scoring (see _unpack_qv_sql)
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(vec_col).alias("_cq")
    ).selectExpr("neighbor_id", *_unpack_qv_sql("_cq", "c_", dim))
    qvv = queries.select(
        F.col(id_col).alias("query_id"), quantized(vec_col).alias("_qq")
    ).selectExpr("query_id", *_unpack_qv_sql("_qq", "q_", dim))
    scored = (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvv), "query_id")
        .withColumn("d2", scalar_l2("q_", "c_", dim))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 16,
    dim: int = 64,
    n_centroids: int = 64,
    centroid_stride: int = 7,
    codebooks: DataFrame | None = None,
    rotate: list[tuple[list[int], int]] | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (ADC — asymmetric distance
    computation): split each dim-``dim`` vector into ``m`` subvectors, encode
    every corpus vector as m codebook ids (nearest of ``n_centroids``
    stride-sampled centroids per subspace, squared-L2), then answer queries by
    summing per-subspace query→centroid distances looked up from a broadcast
    table — the corpus vectors themselves are never touched at query time.

    This is the billion-scale ANN memory shape (Jégou et al., PQ 2011; FAISS
    IVFPQ): the corpus index is m SMALL INTS per vector (here 16 one-byte
    codes ≈ 16 B vs 256 B of floats — a 16x index shrink), and query scoring
    is an equi-join of those codes against an |Q|*m*n_centroids-row lookup
    table that always broadcasts.  Where x15 (IVF) prunes WHICH vectors are
    scored, PQ compresses HOW each is scored; real systems stack both.

    Recall calibration: stride-sampled codebooks on the fixture's
    near-uniform unit-sphere embeddings (PQ's worst case — no cluster
    structure to exploit) measure ~0.3 recall@5 vs brute force at the
    defaults; an identical/near-identical corpus vector always ranks first
    (it achieves the per-subspace LUT minimum in every subspace — the
    property test).  Production recall comes from k-means codebooks trained
    offline, handed in exactly like ivf_topk's ``centroids``.

    Everything is integer-exact: vectors are fixed-point-quantized (QUANT),
    squared-L2 distances are bigint sums of squared deltas (dim 64, |q|<=2e4
    => d2 < 2^35), so code assignment, the LUT, and the final ADC distances
    replay bit-for-bit in the DuckDB oracle.  Centroids are deterministic
    id-stride rows (the offline-codebook posture — no corpus pass, no
    count()); at 100 TB you'd hand in k-means codebooks the same way
    ivf_topk takes ``centroids``.

    Shuffle shape: subvector explode is narrow; code assignment is a
    broadcast join (m*n_centroids centroid rows) + a map-side-combinable
    argmin aggregate keyed on (vector, subspace); ADC is a broadcast-LUT
    equi-join on (subspace, code) + one keyed aggregate per (query, vector).
    No all-pairs product anywhere.

    Output: query_id, neighbor_id, approx_d2 (bigint), rank.
    """
    dsub = dim // m

    def subvectors(df: DataFrame, out_id: str) -> DataFrame:
        # rotate: OPQ Householder chain (opq_householder_chain) — corpus
        # AND queries both map into the rotated space, so codes, the LUT,
        # and ADC distances are all rotated-space quantities (x140)
        return _pq_subvectors(df, id_col, vec_col, out_id, m, dsub, rotate)

    def d2_expr(a_prefix: str, b_prefix: str) -> Column:
        return _pq_d2(dsub, a_prefix, b_prefix)

    c_sub = subvectors(corpus, "_id")
    # Degenerate-parallelism guard: the encode join multiplies each corpus
    # row by m*n_centroids, so a single-file input (1 scan partition — the
    # gate/bench shape) would run the whole 1000x-expanded stage in ONE
    # task.  Repartition the slim (id, 4 ints) subvector rows — keyed on
    # the vector id so the argmin groupBy needs no second exchange — up to
    # the cluster's parallelism.  At 100 TB the scan already has thousands
    # of partitions and this branch never fires.  (Measured 16x-replica
    # encode: 56s -> 4.4s.)
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if _scan_parallelism(c_sub, target) < target:
        c_sub = c_sub.repartition(target, F.col("_id"))
    if codebooks is not None:
        # trained codebooks handed in (train_pq_codebooks's output shape:
        # sub, code, cv_0..cv_{dsub-1}) — the production posture
        cents = codebooks
    else:
        cents = c_sub.filter(
            (F.col("_id") % centroid_stride == 0)
            & (F.col("_id") < F.lit(centroid_stride * n_centroids))
        ).select(
            F.expr(f"_id DIV {centroid_stride}").cast("bigint").alias("code"),
            "sub",
            *[F.col(f"sv_{i}").alias(f"cv_{i}") for i in range(dsub)],
        )
    # encode: nearest centroid per (vector, subspace) — per-row
    # broadcast-array argmin (_pq_best): same deterministic
    # (d2 asc, code asc) order, no row multiplication, no Sort/Exchange
    codes = _pq_best(c_sub, cents, dsub).select(
        F.col("_id").alias("neighbor_id"), "sub", "code"
    )
    # ADC lookup table: |Q| * m * n_centroids rows — always broadcastable
    lut = (
        subvectors(queries, "query_id")
        .join(F.broadcast(cents), "sub")
        .select(
            "query_id", "sub", "code", d2_expr("sv_", "cv_").alias("d2q")
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2q").cast("bigint").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    m: int = 16,
    dim: int = 64,
    n_centroids: int = 64,
    centroid_stride: int = 7,
    codebooks: DataFrame | None = None,
    cell_centroids: DataFrame | None = None,
    cell_stage: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF + PQ stacked (the FAISS IVFPQ composition): a coarse quantizer
    prunes WHICH vectors are scored (each query probes its ``n_probe``
    nearest of ``n_cells`` Voronoi cells, squared-L2) and product
    quantization compresses HOW (scoring is ADC over m codebook ids — the
    corpus vectors are touched only at index-build time).  At billion scale
    this is the standard memory/latency point: cell pruning cuts candidates
    ~n_probe/n_cells, the PQ index is ~16 B/vector, and query cost is a
    broadcast-LUT equi-join over the probed cells only.

    Plan shape: cell assignment and codebook encode both ride the same
    corpus scan (stride-row centroids broadcast — the offline-training
    posture, zero extra corpus passes); the probe table (|Q| * n_probe
    rows) and the ADC LUT both broadcast; the only shuffles are the keyed
    argmin/ADC aggregates.  All arithmetic is bigint squared-L2, so the
    DuckDB oracle replays cell choice, codes, and ADC sums bit-for-bit.
    """
    dsub = dim // m

    v = corpus.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if _scan_parallelism(v, target) < target:
        v = v.repartition(target, F.col("_id"))  # same guard as pq_topk
    qv = queries.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))

    if cell_stage is not None:
        # precomputed coarse stage handed in (ivf_cell_stage's output) —
        # callers building SEVERAL indexes over one coarse partition (the
        # x61 A/B certification, or multi-codebook serving) pay the
        # corpus-sized cell assignment once instead of per index
        corp_cell, probes = cell_stage
    else:
        ccents = (
            # trained coarse quantizer handed in (train_ivf_centroids'
            # shape: cell bigint, _cv array<bigint> in quantized units)
            cell_centroids.select("cell", "_cv")
            if cell_centroids is not None
            else _stride_cells(v, cell_stride, n_cells)
        )
        corp_cell, probes = _coarse_stage(v, qv, ccents, n_probe)

    def sub_cols(df: DataFrame, out_id: str) -> DataFrame:
        return _pq_sub_from_qv(df, out_id, m, dsub)

    def d2_cols() -> Column:
        return _pq_d2(dsub, "sv_", "cv_")

    if codebooks is not None:
        # trained PQ codebooks handed in (train_pq_codebooks's shape) —
        # cell centroids stay stride-seeded (coarse pruning is far less
        # codebook-sensitive than the ADC distances)
        pcents = codebooks
    else:
        pcents = sub_cols(v, "_id").filter(
            (F.col("_id") % centroid_stride == 0)
            & (F.col("_id") < F.lit(centroid_stride * n_centroids))
        ).select(
            F.expr(f"_id DIV {centroid_stride}").cast("bigint").alias("code"),
            "sub",
            *[F.col(f"sv_{i}").alias(f"cv_{i}") for i in range(dsub)],
        )
    # index build: attach each vector's cell (id-keyed join of two
    # corpus-sized frames — this is the one big-big join and it happens at
    # BUILD time, not per query), then encode; cell rides the argmin keys
    # (it is functionally dependent on the vector id, so no extra groups)
    subs_with_cell = _pq_sub_from_qv(
        v.join(corp_cell, "_id"), "_id", m, dsub, keep=("cell",)
    )
    # per-row broadcast-array argmin (_pq_best): no row
    # multiplication, no corpus Sort/Exchange; cell rides the row
    codes = _pq_best(subs_with_cell, pcents, dsub).select(
        F.col("_id").alias("neighbor_id"), "cell", "sub", "code"
    )
    lut = (
        sub_cols(qv, "query_id")
        .join(F.broadcast(pcents), "sub")
        .select("query_id", "sub", "code", d2_cols().alias("d2q"))
    )
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2q").cast("bigint").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 31,
    m: int = 16,
    dim: int = 64,
    n_centroids: int = 64,
    centroid_stride: int = 7,
    cell_centroids: DataFrame | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """IVFPQ with RESIDUAL encoding — the standard FAISS IVFPQ refinement
    (Jégou et al. 2011 §IV): PQ codes quantize ``vector - cell_centroid``
    instead of the raw vector.  Residuals concentrate around the origin
    (the coarse quantizer has already absorbed the cell's mean), so a
    fixed code budget spends its centroids on a much tighter distribution
    — the standard recall win at the same index size.

    The asymmetry this buys costs one thing: the query's residual DEPENDS
    ON THE PROBED CELL, so the ADC lookup table is keyed per (query,
    cell, sub, code) — |Q| * n_probe * m * n_centroids rows, still
    broadcast-sized at any corpus scale (it never touches the corpus).
    Corpus-side the shape is ivfpq_topk's exactly: centroids broadcast,
    ONE corpus pass assigns cells and carries the residual out of the
    same argmin (the centroid vector rides the min(struct) comparator
    behind the already-decisive (cd2, cell) prefix), codes come from a
    broadcast codebook join + map-side-combinable argmin, scoring is a
    broadcast-LUT equi-join over the probed cells.  No all-pairs product,
    no corpus shuffle beyond the keyed aggregates.

    ``cell_centroids``: trained coarse quantizer (train_ivf_centroids's
    (cell, _cv) shape).  ``train_iters``: Lloyd passes for the RESIDUAL
    codebooks (seeded from the same deterministic stride rows, trained by
    the byte-identical :func:`_pq_train_loop` update) — 0 ships the
    stride-seeded codebooks.  All arithmetic is bigint squared-L2
    (residual components are bounded by 2x the quantized range ~4e4, so
    per-subspace squares stay well inside int64), and a DuckDB oracle
    replays cell choice, residuals, codebooks, codes, and ADC sums
    bit-for-bit (gate x84)."""
    dsub = dim // m

    v = corpus.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if _scan_parallelism(v, target) < target:
        v = v.repartition(target, F.col("_id"))  # same guard as pq_topk
    qv = queries.select(F.col(id_col).alias("_id"), quantized(vec_col).alias("_qv"))
    ccents = (
        cell_centroids.select("cell", "_cv")
        if cell_centroids is not None
        else _stride_cells(v, cell_stride, n_cells)
    )

    # corpus: cell assignment + residual out of ONE per-row argmin
    # (broadcast candidate array, map-only — no n_cells expansion, no
    # SortAggregate/Exchange).  (cd2, cell) is a total order (cells are
    # distinct), so the trailing _cv field never compares — it rides the
    # winning struct exactly as it rode the old comparator; residual =
    # qv - centroid(cell)
    cands = _cell_cands(ccents)
    corp_res = (
        v.crossJoin(F.broadcast(cands))
        .withColumn("_b", F.array_min(F.expr(_cell_scored_arr_sql(with_cv=True))))
        .select(
            "_id",
            F.col("_b.cell").alias("cell"),
            F.zip_with("_qv", "_b._cv", lambda a, b: a - b).alias("_rv"),
        )
    )
    # queries: per probed cell, the query's residual AGAINST THAT CELL —
    # sorted-slice probe ranking, same (cd2, cell)-ascending order
    q_res = (
        qv.crossJoin(F.broadcast(cands))
        .select(
            F.col("_id").alias("query_id"),
            "_qv",
            F.explode(
                F.slice(F.array_sort(F.expr(_cell_scored_arr_sql(with_cv=True))), 1, n_probe)
            ).alias("_s"),
        )
        .select(
            "query_id",
            F.col("_s.cell").alias("cell"),
            F.zip_with("_qv", "_s._cv", lambda a, b: a - b).alias("_rv"),
        )
    )

    def res_subs(df: DataFrame, id_in: str) -> DataFrame:
        """(id, cell, sub, sv_0..sv_{dsub-1}) from a residual frame — the
        shared extraction (:func:`_pq_sub_from_qv`) over the residual
        array, carrying the cell id through."""
        return _pq_sub_from_qv(
            df.select(
                F.col(id_in).alias("_id"), "cell", F.col("_rv").alias("_qv")
            ),
            id_in,
            m,
            dsub,
            keep=("cell",),
        )

    c_sub = res_subs(corp_res, "_id")
    # residual codebooks: deterministic stride seeds over the RESIDUAL
    # subvectors, optionally Lloyd-trained over the same rows (the shared
    # _pq_train_loop — byte-identical update rule to train_pq_codebooks)
    rcents = c_sub.filter(
        (F.col("_id") % centroid_stride == 0)
        & (F.col("_id") < F.lit(centroid_stride * n_centroids))
    ).select(
        F.expr(f"_id DIV {centroid_stride}").cast("bigint").alias("code"),
        "sub",
        *[F.col(f"sv_{i}").alias(f"cv_{i}") for i in range(dsub)],
    )
    if train_iters:
        # the loop's final iteration already eagerly checkpoints, so both
        # consumers below reuse ONE materialized codebook frame
        rcents = _pq_train_loop(c_sub.drop("cell"), rcents, dsub, train_iters)
    # untrained (train_iters=0): rcents stays a lazy stride filter consumed
    # by both joins — the same unshared-pcents shape as ivfpq_topk, keeping
    # plan construction job-free (laziness contract, pinned in tests; a
    # lazy localCheckpoint is NOT job-free under AQE — it materializes the
    # upstream broadcast while translating the plan to an RDD)

    # per-row broadcast-array argmin (_pq_best) — same
    # (d2, code)-ascending assignment, no residual-corpus Sort/Exchange
    codes = _pq_best(c_sub, rcents, dsub).select(
        F.col("_id").alias("neighbor_id"), "cell", "sub", "code"
    )
    lut = (
        res_subs(q_res, "query_id")
        .join(F.broadcast(rcents), "sub")
        .select(
            "query_id", "cell", "sub", "code",
            _pq_d2(dsub, "sv_", "cv_").alias("d2q"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2q").cast("bigint").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """LSH-blocked near-dup pairs: candidates = vector pairs sharing a bucket
    in ANY of ``n_tables`` independent hyperplane tables; exact integer-cosine
    verify >= threshold on candidates only.  This is the 100 TB default plan —
    the join key is (table, bucket), so candidate generation is an equi-join
    shuffle, never an all-pairs product.

    Recall math (per pair at cosine c): P[same sign on one plane] =
    1 - arccos(c)/pi =: p; per-table collision p^n_planes; overall
    1-(1-p^n_planes)^n_tables.  At c=0.9, b=4, L=8 that is ~0.998; at the
    gate threshold 0.4 it is ~0.75 — tune (b down | L up) for low thresholds.

    SIZE the planes to the corpus: bucket count is 2^n_planes per table, so
    with FIXED planes the per-bucket occupancy — and the candidate-pair
    volume, occupancy^2 per bucket — grows quadratically with corpus size
    (measured: the 64x controlled-dup probe in SCALE.md went superlinear at
    n_planes=4).  Hold occupancy constant with n_planes ~ log2(n/target)
    (e.g. target ~128 vectors/bucket) and buy back the per-table recall loss
    with more tables; exact-duplicate recall is plane-count-independent
    (p=1 at c=1).
    Recall vs the exact path is property-tested; precision is 1.0 by
    construction (exact verify).  Everything is engine-exact (md5-derived
    planes, integer dots), so the DuckDB oracle replays the identical
    blocking — the gate checks determinism of the declared approximate
    semantics, the test suite checks measured recall.

    Shuffle shape: posexplode (narrow) -> ID-ONLY self equi-join on (table,
    bucket) -> distinct (id_a, id_b) -> join back to the vectors for the
    verify.  The bucket join deliberately carries only ids (16 bytes/row),
    never the dim-64 vectors (~1 KB/row): at scale the candidate-pair shuffle
    is the dominant byte mover, and deduping across tables BEFORE the verify
    also means each surviving pair pays the exact-cosine cost exactly once.
    """
    v = with_quantized_norm(df, vec_col).select(
        F.col(id_col).alias("_id"), "qvec", "qnorm2"
    )
    buckets = F.array(
        *[lsh_bucket("qvec", n_planes, dim, tag=f"t{t}_") for t in range(n_tables)]
    )
    e = v.select(
        F.col("_id"), F.posexplode(buckets).alias("tbl", "bucket")
    )
    cand = (
        e.select(F.col("_id").alias("id_a"), "tbl", "bucket")
        .join(e.select(F.col("_id").alias("id_b"), "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # scalar-unpacked verify (see _unpack_qv_sql): the exact cosine on
    # each surviving pair is codegen'd multiply-adds
    a = v.selectExpr("_id AS id_a", "qnorm2 AS na2",
                     *_unpack_qv_sql("qvec", "a_", dim))
    b = v.selectExpr("_id AS id_b", "qnorm2 AS nb2",
                     *_unpack_qv_sql("qvec", "b_", dim))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", scalar_cosine_floor("a_", "b_", "na2", "nb2", dim))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """All pairs with cosine >= threshold (id_a < id_b).

    EXACT all-pairs formulation — O(n^2); the small-scale oracle/recall
    baseline.  The production-scale default is :func:`lsh_neardup_pairs`
    (equi-join blocking); this one exists to measure its recall and to serve
    exact answers on bounded inputs.
    """
    v = with_quantized_norm(df, vec_col)
    # scalar-unpacked scoring (see _unpack_qv_sql)
    a = v.selectExpr(f"{qident(id_col)} AS id_a", "qnorm2 AS na2",
                     *_unpack_qv_sql("qvec", "a_", dim))
    b = v.selectExpr(f"{qident(id_col)} AS id_b", "qnorm2 AS nb2",
                     *_unpack_qv_sql("qvec", "b_", dim))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", scalar_cosine_floor("a_", "b_", "na2", "nb2", dim))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.3,
    centroid_stride: int | None = None,
    centroids: DataFrame | None = None,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus into
    ``n_cells`` centroid cells (same deterministic IVF assignment as
    :func:`ivf_topk`), then WITHIN each cell drop every vector whose cosine to
    a lower-id cell-mate is >= ``threshold`` (keep-first policy).

    Returns one row per DROPPED vector: (vec_id, cell, kept_by, cosine) where
    ``kept_by`` is the smallest lower-id cell-mate above the threshold and
    ``cosine`` its similarity — the audit trail a curation pipeline stores.

    Scale shape: cell assignment is a broadcast of the (tiny) centroid set +
    a per-row argmax — no shuffle; the pair search is a self-equi-join ON THE
    CELL ID, so candidate volume is sum(cell_size^2) instead of corpus^2 —
    the whole point of clustering before pairwise comparison (SemDeDup,
    Abbas et al. 2023).  With k-means-balanced cells at 100 TB each cell is
    bounded and the join never degenerates; everything is integer-exact so
    the DuckDB oracle replays the identical assignment and pair math.
    Centroid source precedence (``centroids`` > ``centroid_stride`` >
    count-derived fallback): see :func:`_cell_centroids`.
    """
    v = with_quantized_norm(df, vec_col)
    cents = _cell_centroids(
        v, df, id_col, vec_col, n_cells, centroid_stride, centroids
    )
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "c_cos", cosine_sql("qvec", "cvec", "qnorm2", "cn2")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("cell"))
    assigned = (
        scored.withColumn("c_rank", F.row_number().over(w))
        .filter(F.col("c_rank") == 1)
        .select(F.col(id_col).alias("_id"), "qvec", "qnorm2", "cell")
    )
    # scalar-unpacked in-cell pair scoring (see _unpack_qv_sql): the
    # sum(cell_size^2) candidate volume is the dominant cost here
    a = assigned.selectExpr(
        "_id AS id_a", "qnorm2 AS na2",
        "cell", *_unpack_qv_sql("qvec", "a_", dim),
    )
    b = assigned.selectExpr(
        "_id AS id_b", "qnorm2 AS nb2",
        "cell", *_unpack_qv_sql("qvec", "b_", dim),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", scalar_cosine_floor("a_", "b_", "na2", "nb2", dim))
        .filter(F.col("cosine") >= threshold)
    )
    # keep-first: the dropped vector's auditor is its SMALLEST qualifying
    # lower id; struct min gives (min id_a, that pair's cosine) atomically
    return (
        pairs.groupBy("id_b", "cell")
        .agg(F.min(F.struct("id_a", "cosine")).alias("m"))
        .select(
            F.col("id_b").alias("vec_id"),
            "cell",
            F.col("m.id_a").alias("kept_by"),
            F.col("m.cosine").alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental IVF index: persisted per-version cell segments under FROZEN
# centroids — the ANN-side never-re-read posture (x70/x95's for similarity)
# ---------------------------------------------------------------------------


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, qvec, qnorm2): each vector's nearest frozen cell (cosine
    argmax, ties to the lower cell id — ivf_topk's exact rule) PLUS its
    quantized vector and norm, i.e. the inverted-list PAYLOAD: an IVF
    index stores the vectors, so serving never returns to the source
    table.  Centroids broadcast; the corpus never shuffles."""
    v = with_quantized_norm(corpus, vec_col)
    cents = _cell_centroids(v, corpus, id_col, vec_col, 0, None, centroids)
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "c_cos",
        cosine_sql("qvec", "cvec", "qnorm2", "cn2"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, "cell", "qvec", "qnorm2")
    )


def ivf_index_update(
    spark,
    vecs: DataFrame,
    root: str,
    version: int,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append one corpus version's vectors to the persisted IVF index as a
    directory-partitioned segment (``root/v=<version>``): the drop is
    assigned against the FROZEN centroid frame and written with its
    quantized payload — earlier versions' vectors are never re-read, the
    x70 index-update contract for the similarity surface.  (Centroid
    drift is an observable: compare per-cell occupancy across segments;
    when a cell bloats, retrain offline and REBUILD — frozen parameters
    are what make the increment valid, exactly like x95's frozen
    tokenizer.)  The segment is staged and published through
    :mod:`hiveka_spark.commit`, so a replay of ``version`` leaves the
    committed segment whole until its replacement is."""
    base = root.removeprefix("file:")
    existing = ivf_index_versions(root)
    if existing:
        top = max(existing)
        top_compacted = os.path.exists(
            os.path.join(base, f"v={top}", "_COMPACTED")
        )
        if version < top or (version == top and top_compacted):
            raise ValueError(
                f"ivf_index_update: index at {root!r} already holds version "
                f"{top}{' (a compacted segment)' if top_compacted else ''}; "
                f"appending version {version} at or below it would "
                "silently duplicate or destroy index rows — pass a version "
                f"> {top} (== max is only a safe replay overwrite of a "
                "plain segment)"
            )
    commit.write_version(
        os.path.join(base, f"v={version}"),
        ivf_assign(vecs, centroids, id_col, vec_col).write.mode("overwrite").parquet,
    )


def ivf_index_versions(root: str) -> list[int]:
    """Version ids of the committed ``v=*`` segments under ``root``."""
    return sorted(
        commit.version_id(d)
        for d in commit.committed(root.removeprefix("file:"), prefixes=("v=",))
    )


def ivf_index_segments(root: str) -> list[str]:
    """Paths of the LIVE committed segments under ``root``: committed
    ``v=*`` dirs with every version BELOW the newest ``_COMPACTED``
    segment shadowed.  A compacted segment contains every older version,
    so reading both (the crash window between :func:`ivf_index_compact`'s
    publish and its input deletes) would serve every index row twice,
    and a duplicated neighbor would take two of the top-k slots.  Serving
    and compaction both read through this list, which also keeps a
    crashed append's unmarked segment out of the plan: partition
    discovery over the raw root would fold it in silently."""
    base = root.removeprefix("file:")
    versions = ivf_index_versions(root)
    compacted = [
        v
        for v in versions
        if os.path.exists(os.path.join(base, f"v={v}", "_COMPACTED"))
    ]
    floor = max(compacted) if compacted else -1
    return [os.path.join(base, f"v={v}") for v in versions if v >= floor]


def ivf_index_compact(spark, root: str, before: int | None = None) -> int:
    """Fold the committed segments of a persisted IVF index into ONE
    segment and return the NEXT safe append version.  A long-running
    ingest otherwise accumulates one ``v=<version>`` dir per
    drop/micro-batch, and every probe pays the multi-dir listing and
    small-file overhead.  Index content is a set of per-vector
    (id, cell, qvec, qnorm2) rows, so the fold is a pure union and probe
    results are unchanged (gate x135 pins this with the from-scratch
    oracle).

    The fold follows :mod:`hiveka_spark.commit` with the store's own
    naming: the merged copy is staged outside the partition namespace,
    marked ``_COMPACTED`` and published as ``v=<top+1>`` (the
    below-max guard of :func:`ivf_index_update` keeps future appends
    above it), then the inputs are deleted.  :func:`ivf_index_segments`
    shadows the inputs of a crashed fold, and the retry finishes their
    deletes.  At 100 TB the rewrite is also where a cell-clustered file
    layout pays off (the fold is sorted by ``cell`` so probes touch
    contiguous row groups).

    ``before`` is the in-stream replay rule: fold only live versions
    < ``before``.  Stream sinks pair it with spaced append versions
    (:func:`make_ivf_stream_sink` appends at 2*batch_id + 2) so the
    fold's ``top + 1`` publish slot is always free; a committed segment
    already at that slot raises instead of being clobbered."""
    base = root.removeprefix("file:")
    versions = ivf_index_versions(root)
    live = ivf_index_segments(root)
    live_versions = sorted(commit.version_id(d) for d in live)
    # finish any crashed prior fold's deletes: versions shadowed by a
    # committed _COMPACTED segment are already contained in it
    for v in versions:
        if v not in live_versions:
            commit.remove(os.path.join(base, f"v={v}"))
    if before is not None:
        live_versions = [v for v in live_versions if v < before]
    # the next safe append version must clear EVERY committed version,
    # not just the folded ones: with `before` the max committed version
    # can sit outside the fold set (a replayed batch's own segment)
    ceiling = max(versions) if versions else -1
    if len(live_versions) <= 1:
        return ceiling + 1
    top = max(live_versions)
    if (top + 1) in versions:
        raise ValueError(
            f"ivf_index_compact: publish slot v={top + 1} is already a "
            f"committed segment (existing versions {versions}) — the "
            "caller's version spacing must leave the fold's top+1 slot "
            "free (make_ivf_stream_sink's even/odd convention)"
        )
    live = [d for d in live if commit.version_id(d) in live_versions]

    def write(staged: str) -> None:
        spark.read.parquet(*live).sort("cell").write.mode("overwrite").parquet(staged)
        open(os.path.join(staged, "_COMPACTED"), "w").close()

    commit.write_version(os.path.join(base, f"v={top + 1}"), write)
    for d in live:
        commit.remove(d)
    return max(ceiling, top + 1) + 1


def make_ivf_stream_sink(
    root: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_after: int | None = None,
):
    """foreachBatch sink for a LIVE IVF index with in-stream compaction
    (s29's append sink x x135's fold, concurrent): each micro-batch
    appends its vectors as one segment, and when the committed segment
    count reaches ``compact_after`` the accumulated index folds BETWEEN
    micro-batches — before the batch's own append, with ``before = this
    batch's version``, so a checkpoint replay can never find its own
    segment folded (the replay rule of :mod:`hiveka_spark.commit`).
    Append versions are SPACED (2*batch_id + 2, always even) so the
    fold's ``top + 1`` publish slot (always odd) can never collide
    with a present or future batch segment — the version-namespace
    discipline the band index gets from its b/c prefixes, done
    arithmetically here because the IVF store is partition-discovered.

    Replay-safe end to end: overwrite-by-version appends, the
    :func:`ivf_index_segments` shadowing on every read, and
    :func:`ivf_index_compact`'s finish-the-deletes retry make any crash
    point re-runnable; serving BETWEEN batches is correct at every
    boundary (pinned by the s32 tests, including a mid-stream
    crash-after-publish window)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        version = 2 * batch_id + 2
        # trigger on COMMITTED dirs, not live ones: after a crashed fold
        # the live count collapses to 1 (shadowing) while the folded
        # inputs still sit on disk — the fold pass is also what finishes
        # those deletes, so it must keep firing until the listing is
        # actually bounded again
        if (
            compact_after is not None
            and len(ivf_index_versions(root)) >= compact_after
        ):
            ivf_index_compact(s, root, before=version)
        ivf_index_update(s, batch_df, root, version, centroids, id_col, vec_col)

    return sink


def _probe_side(
    df: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """(query_id, cell, qqvec, qn2): each vector's ``n_probe`` nearest
    frozen cells with its quantized payload — THE probe-side frame the
    index servers share (ivf_index_topk, make_knn_graph_sink), so the
    cell tie-break (c_cos DESC, cell) exists exactly once.  The s33
    streaming/one-shot convergence contract depends on this rule staying
    byte-identical across call sites (round-15 review)."""
    v = with_quantized_norm(df, vec_col)
    cents = _cell_centroids(v, df, id_col, vec_col, 0, None, centroids)
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "c_cos",
        cosine_sql("qvec", "cvec", "qnorm2", "cn2"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("cell"))
    wq = Window.partitionBy(id_col)
    return (
        scored.withColumn("c_rank", F.row_number().over(w))
        .filter(F.col("c_rank") <= n_probe)
        # home = the rank-1 probe cell: the node's partition key in the
        # per-cell edge store (frozen forever, since centroids are frozen)
        .withColumn(
            "home",
            F.max(F.when(F.col("c_rank") == 1, F.col("cell"))).over(wq),
        )
        .select(
            F.col(id_col).alias("query_id"),
            "cell",
            F.col("qvec").alias("qqvec"),
            F.col("qnorm2").alias("qn2"),
            "home",
        )
    )


def _serve_scores(
    index: DataFrame,
    qs: DataFrame,
    extra: tuple[str, ...] = (),
    broadcast: bool = False,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """Floor-quantized cosine of probe rows against index rows sharing a
    cell, self-pairs dropped — the serving score block (quantization and
    the exclusion rule single-sourced; ``broadcast=True`` is the
    bounded-probe-batch contract — the hint is applied here, AFTER the
    scalar unpack projection, so it always sits directly on the join
    input).  ``extra`` passes additional query-side columns through (the
    s33 sink carries ``home``).  Both sides unpack to scalar component
    columns per ROW so the per-PAIR cosine is codegen'd multiply-adds,
    not an interpreted zip_with (see _unpack_qv_sql)."""
    idx_sc = index.selectExpr(
        "cell", "neighbor_id", "cn2", *_unpack_qv_sql("cvec", "c_", dim)
    )
    qs_sc = qs.selectExpr(
        "cell", "query_id", "qn2", *extra, *_unpack_qv_sql("qqvec", "q_", dim)
    )
    return (
        idx_sc.join(F.broadcast(qs_sc) if broadcast else qs_sc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", scalar_cosine_floor("q_", "c_", "qn2", "cn2", dim))
        .select("query_id", "neighbor_id", "cosine", *extra)
    )


def compact_probe_store(spark, probes_root: str, before: int = 10**9) -> None:
    """Fold committed probe segments (``probes/b{id}``, id < ``before``)
    into one ``c{top}`` segment (:func:`hiveka_spark.commit.fold`), so a
    long-running ingest does not re-list and re-scan one dir per prior
    batch on every old->new join.  Probe content is a set of frozen
    per-node rows, so the fold is a pure union.  The sink's prior-probe
    read goes through :func:`hiveka_spark.commit.live`: a duplicated
    candidate would take two ranks in the top-k window and evict a true
    neighbor."""
    commit.fold(
        probes_root,
        before,
        lambda dirs, staged: spark.read.parquet(*dirs)
        .write.mode("overwrite")
        .parquet(staged),
    )


def compact_edge_cell(spark, cell_dir: str, before: int = 10**9) -> None:
    """Fold one home cell's committed edge dirs (id < ``before``): the
    single-cell form of :func:`compact_edge_cells`."""
    compact_edge_cells(
        spark,
        os.path.dirname(cell_dir),
        [int(os.path.basename(cell_dir)[2:])],
        before=before,
    )


def compact_edge_cells(
    spark, edges_root: str, cells: list[int], before: int = 10**9
) -> None:
    """Fold the committed edge dirs (id < ``before``) of every listed home
    cell into a base ``c{top}`` per cell holding each query's LATEST
    top-k rows: the per-query max-``_v`` winners.  Superseded delta rows
    drop here, which bounds both the cell's dir listing and its dead-row
    volume under a long ingest.

    All due cells fold in ONE staged Spark job, because one job per cell
    serializes a fold round at thousands of cells: one read over every
    folding cell's live dirs, one per-query latest-version filter (sound
    globally because a query's rows live only in its frozen home cell),
    one write partitioned by home cell.  Each cell's partition is then
    published on its own (:func:`hiveka_spark.commit.publish_fold`), so
    a crash mid-publish leaves some cells folded and the rest untouched;
    a crashed staging write is discarded up front and refolded
    (:func:`hiveka_spark.commit.staging`)."""
    with commit.staging(os.path.join(edges_root, "fold")) as staged:
        fold = []  # (cell, live input dirs)
        for c in cells:
            inputs = commit.fold_inputs(os.path.join(edges_root, f"hc{c}"), before)
            if inputs:
                fold.append((c, inputs))
        if not fold:
            return
        w = Window.partitionBy("query_id")
        (
            spark.read.parquet(*[d for _, inputs in fold for d in inputs])
            .withColumn("_vm", F.max("_v").over(w))
            .filter(F.col("_v") == F.col("_vm"))
            .drop("_vm")
            # duplicate the partition column so the data files keep `home`
            # (the sink's own staging convention)
            .withColumn("hc", F.col("home"))
            .write.mode("overwrite")
            .partitionBy("hc")
            .parquet(staged)
        )
        for c, inputs in fold:
            commit.publish_fold(os.path.join(staged, f"hc={c}"), inputs)


def make_knn_graph_sink(
    state_root: str,
    centroids,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_probes_after: int | None = None,
    compact_edges_after: int | None = 8,
    dim: int = SCORE_DIM,
):
    """foreachBatch sink maintaining a LIVE kNN graph (s33 — x139's bulk
    edge list under streaming ingest): vectors arrive in micro-batches
    and after any batch the edge snapshot equals one-shot
    ``ivf_topk(corpus_so_far, corpus_so_far, broadcast_queries=False)``.

    Three stores under ``state_root`` (all overwrite-by-version, so
    checkpoint replay is idempotent):

    - ``index/v=<2b+2>``: the accumulated IVF index (s29's append, s32's
      version spacing — compaction composes).
    - ``probes/b<2b+2>``: APPEND-ONLY per-node probe rows (query_id,
      cell, qqvec, qn2, home — the node's n_probe nearest frozen cells
      plus its rank-1 "home" cell).  Probe sets are frozen per node, so
      old nodes are never re-ranked; this store is what lets the
      old->new merge run WITHOUT re-reading source vectors.  Foldable:
      ``compact_probes_after`` bounds the dir listing via
      :func:`compact_probe_store`.
    - ``edges/hc<cell>/{b<version>,c<version>}``: the per-node top-k rows
      (query_id, neighbor_id, cosine, rank, home, _v) PARTITIONED BY HOME
      CELL, maintained as PER-QUERY DELTAS: a batch writes ONLY the queries it produced
      candidates for — their complete new top-k rows, stamped with the
      batch version — never a full snapshot and never the unchanged
      queries of a touched cell.  Reads (the sink's own prev lookup, the
      fold, :func:`knn_graph_snapshot`) keep each query's max-``_v``
      rows.  Cell-level rewriting alone is NOT enough at scale: an old
      node anywhere probes the batch's cells, so the touched-HOME-CELL
      set saturates to all cells for any realistic batch (measured —
      64/64 cells touched at the 10x probe); what stays batch-bounded is
      the INVOLVED-QUERY set, so that is the write unit.  Per cell,
      ``compact_edges_after`` folds deltas into a ``c{v}`` base
      (:func:`compact_edge_cells` — per-query latest rows, dead rows
      dropped), bounding both the listing and the dead-row volume.  An
      untouched cell's files are byte-identical across a batch
      (test-pinned).

    Convergence is the s19 discipline at graph level — a candidate pair
    (q, nb) with nb in a cell q probes is generated EXACTLY ONCE, when
    the later of the two arrives: the batch's nodes score against the
    whole accumulated index (new->all, intra-batch included), and all
    PRIOR nodes' probe rows score against the batch's index rows
    (old->new).  Candidate scores are static (frozen cells, quantized
    cosine), so folding each batch's candidates into each involved
    query's previous top-k rows with the one-shot rank rule (cosine
    DESC, neighbor_id) reaches the one-shot answer for ANY batch split —
    pinned by the s33 tests.  A node's home cell is frozen at arrival
    (frozen centroids), so its rows never migrate between cells; a query
    with no new candidates keeps its latest rows untouched on disk.

    Crash windows: the batch's delta lands in ONE partitioned staging
    write, then each ``hc=<cell>`` subdir is published as
    ``edges/hc<cell>/b<version>`` (:func:`hiveka_spark.commit.publish`);
    a crash mid-publish replays the batch, which recomputes the same
    rows (static scores; the prev lookup reads only versions < this
    one) and replaces them by version.  The per-cell fold runs BEFORE
    the batch's own read with ``before = version``.

    Scale shape per batch: one broadcast-centroid argmax over the batch,
    two cell-keyed equi-joins (batch-probes x index; prior-probes x
    batch-index — the intrinsic candidate cost, ~ batch x cell
    occupancy), one involved-query merge, and a delta write of
    Theta(involved x k) rows — vs Theta(corpus x k) for the full-rewrite
    design (measured side by side in SCALE.md).
    Reads amortize via the per-cell fold cadence."""
    index_root = os.path.join(state_root, "index")
    probes_root = os.path.join(state_root, "probes")
    edges_root = os.path.join(state_root, "edges")
    for p in (probes_root, edges_root):
        os.makedirs(p, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        version = 2 * batch_id + 2
        if compact_probes_after is not None and (
            len(commit.committed(probes_root, version))
            >= compact_probes_after
        ):
            compact_probe_store(s, probes_root, before=version)
        from pyspark import StorageLevel

        # batch-sized; LAZY persist, not an eager localCheckpoint: the
        # homes collect below is the first action and materializes the
        # cache, so no dedicated job pays for it.  Unpersisted after the
        # probes-store write.
        bq = _probe_side(batch_df, centroids, id_col, vec_col, n_probe).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        prior_probes = commit.live(probes_root, version)
        ivf_index_update(
            s, batch_df, index_root, version, centroids, id_col, vec_col
        )
        index = s.read.parquet(*ivf_index_segments(index_root)).select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            F.col("qvec").alias("cvec"),
            F.col("qnorm2").alias("cn2"),
        )
        batch_index = s.read.parquet(
            f"{index_root}/v={version}"
        ).select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            F.col("qvec").alias("cvec"),
            F.col("qnorm2").alias("cn2"),
        )
        # new -> all (intra-batch included), home carried per query row
        cands = _serve_scores(index, bq, extra=("home",), dim=dim)
        old = None
        if prior_probes:
            old = s.read.parquet(*prior_probes)
            cands = cands.unionByName(
                _serve_scores(batch_index, old, extra=("home",), dim=dim)  # old->new
            )
        # candidate-bearing cells (a superset of the cells the delta will
        # actually land in: a query whose only candidates are self-pairs
        # stages nothing).  Bounded driver collect: <= n_cells values.
        batch_cells = batch_index.select("cell").distinct()
        homes = bq.select("home")
        if old is not None:
            homes = homes.unionByName(
                old.join(batch_cells, "cell", "semi").select("home")
            )
        touched = sorted(r.home for r in homes.distinct().collect())
        # in-stream fold: bound the listing BEFORE reading prev; all due
        # cells fold in one staged Spark job
        if compact_edges_after is not None:
            due = [
                c
                for c in touched
                if len(commit.committed(os.path.join(edges_root, f"hc{c}"), version))
                >= compact_edges_after
            ]
            if due:
                compact_edge_cells(s, edges_root, due, before=version)
        prev_paths: list[str] = []
        for c in touched:
            prev_paths.extend(
                commit.live(os.path.join(edges_root, f"hc{c}"), version)
            )
        # the batch's candidates need merging against each INVOLVED
        # query's latest committed top-k rows only
        merged = cands
        if prev_paths:
            involved = cands.select("query_id").distinct()
            wv = Window.partitionBy("query_id")
            prev = (
                s.read.parquet(*prev_paths)
                .join(involved, "query_id", "semi")
                .withColumn("_vm", F.max("_v").over(wv))
                .filter(F.col("_v") == F.col("_vm"))
                .select("query_id", "neighbor_id", "cosine", "home")
            )
            merged = merged.unionByName(prev)
        wr = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        with commit.staging(os.path.join(edges_root, f"b{version}")) as staged:
            (
                merged.withColumn("rank", F.row_number().over(wr).cast("bigint"))
                .filter(F.col("rank") <= k)
                .withColumn("_v", F.lit(version).cast("bigint"))
                # duplicate the partition column so the data files keep `home`
                .withColumn("hc", F.col("home"))
                .write.mode("overwrite")
                .partitionBy("hc")
                .parquet(staged)
            )
            # per-cell publish of each staged partition (cells with no rows
            # stage nothing)
            for name in sorted(os.listdir(staged)):
                if not name.startswith("hc="):
                    continue
                cell_dir = os.path.join(edges_root, f"hc{name[3:]}")
                os.makedirs(cell_dir, exist_ok=True)
                commit.publish(
                    os.path.join(staged, name), os.path.join(cell_dir, f"b{version}")
                )
        try:
            commit.write_version(
                os.path.join(probes_root, f"b{version}"),
                bq.write.mode("overwrite").parquet,
            )
        finally:
            bq.unpersist()

    return sink


def knn_graph_snapshot(spark, state_root: str) -> DataFrame:
    """The live kNN graph's latest committed edge snapshot: per home
    cell, the live (shadowed) delta + base dirs, then each query's
    max-``_v`` rows win — one bounded listing over ~n_cells dirs, each
    holding <= compact_edges_after committed dirs."""
    edges_root = os.path.join(state_root, "edges")
    paths: list[str] = []
    if os.path.isdir(edges_root):
        for name in sorted(os.listdir(edges_root)):
            if not (name.startswith("hc") and name[2:].isdigit()):
                continue
            paths.extend(commit.live(os.path.join(edges_root, name), 10**9))
    if not paths:
        raise FileNotFoundError(f"no committed edge snapshot under {state_root}")
    w = Window.partitionBy("query_id")
    return (
        spark.read.parquet(*paths)
        .withColumn("_vm", F.max("_v").over(w))
        .filter(F.col("_v") == F.col("_vm"))
        .drop("_vm")
    )


def ivf_index_topk(
    spark,
    root: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """IVF top-k served FROM THE PERSISTED INDEX: the corpus side is the
    read-back union of the LIVE committed segments
    (:func:`ivf_index_segments`, so neither a half-written append nor a
    compaction's crash window can duplicate or corrupt served rows) — the
    source embeddings table never appears in the probe plan.  Same probe/score/rank semantics as :func:`ivf_topk`
    (equi-join on cell, floor-quantized cosine, deterministic ties).

    ``broadcast_queries`` (default True) assumes a BOUNDED probe batch —
    the online-serving contract, where queries x n_probe rows fit a
    driver broadcast.  For offline bulk scoring with a corpus-sized
    query table, pass False: the cell join then shuffles both sides on
    ``cell`` instead of forcing the query table through a broadcast
    (round-13 advice — a large batch would otherwise OOM the driver or
    trip the broadcast size limit)."""
    segments = ivf_index_segments(root)
    if not segments:
        raise FileNotFoundError(
            f"ivf_index_topk: no committed index segments under {root!r} "
            "(expected committed v=* dirs written by "
            "ivf_index_update)"
        )
    index = spark.read.parquet(*segments).select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        F.col("qvec").alias("cvec"),
        F.col("qnorm2").alias("cn2"),
    )
    # probe selection + scoring through the shared helpers so the cell
    # tie-break and quantization can never drift from the s33 sink's
    qs = _probe_side(queries, centroids, id_col, vec_col, n_probe)
    scored = _serve_scores(index, qs, broadcast=broadcast_queries, dim=dim)
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def mutual_knn_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    centroid_stride: int = 31,
    centroids: DataFrame | None = None,
    dim: int = SCORE_DIM,
) -> DataFrame:
    """Mutual-kNN edge list (id_a < id_b) over the corpus: an undirected
    edge exists iff b is in a's IVF top-k AND a is in b's — the
    hub-pruning symmetric construction x142/x146 cluster on (see
    x142_mutual_knn_components for the full scale argument).  The bulk
    edge list is x139's non-broadcast cell join, materialized once
    (n x k id-only rows, localCheckpoint standing in for the parquet
    persist a 100 TB run would use) and self-joined on the two id
    columns."""
    knn = ivf_topk(
        corpus, corpus, id_col, vec_col,
        k=k, n_cells=n_cells, n_probe=n_probe,
        centroid_stride=centroid_stride, centroids=centroids,
        broadcast_queries=False, dim=dim,
    )
    fwd = knn.select("query_id", "neighbor_id").localCheckpoint(eager=True)
    return (
        fwd.alias("a")
        .join(
            fwd.alias("b"),
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .filter(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
        )
    )
