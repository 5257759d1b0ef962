"""Live-kNN-graph edge-store rewrite probe (SCALE.md round-16 row):
per-batch WRITE cost of the per-query delta design (make_knn_graph_sink,
round-15 verdict #1) vs the r15 full-snapshot rewrite, at a
disk-resident 10x corpus under the realistic live regime — a bulk-loaded
index plus trickle micro-batches.

Usage: python tools/edge_rewrite_probe.py   (writes under /tmp/edge_probe)

Two honest findings drove the design this measures:
- touched-HOME-CELL granularity saturates: an old node anywhere probes
  the batch's cells, so for any realistic batch the touched-cell set is
  ~all cells (first probe run measured 64/64 every batch) — cell-level
  full rewrites are the full rewrite.
- the INVOLVED-QUERY set (queries that actually gain candidates) is what
  stays batch-bounded: involved fraction ~ 1-(1-b_cells/C)^n_probe.  The
  delta store writes Theta(involved x k) rows/batch; the legacy design
  writes Theta(corpus x k) regardless.

The legacy arm is the r15 algorithm inlined verbatim so both arms share
the candidate-generation plan and differ ONLY in the merge/write.
Replicas shift vec_id only, so cell occupancy is preserved while the
corpus grows (the knn_scale_probe growth model)."""
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")
import pyspark.sql.functions as F
from pyspark.sql import Window

from hiveka_spark.catalog import table
from hiveka_spark.commit import version_id
from hiveka_spark.operators.similarity import (
    _probe_side,
    _serve_scores,
    ivf_index_segments,
    ivf_index_update,
    knn_graph_snapshot,
    make_knn_graph_sink,
)
from hiveka_spark.session import get_spark
from hiveka_spark.streaming.neardup import committed_versions

spark = get_spark("edge-probe")
SF = "/root/testdata/sf0.1"
K, N_PROBE, STRIDE, N_CELLS, REP = 3, 4, 7, 256, 10
TRICKLE, TRICKLE_N = 5, 40  # 5 trickle batches of 40 vectors after bulk load
root = "/tmp/edge_probe"
shutil.rmtree(root, ignore_errors=True)
os.makedirs(root)

base = table(spark, SF, "embeddings")
n_base = base.count()
rep = base.withColumn("_r", F.explode(F.lit(list(range(REP))))).select(
    (F.col("vec_id") + F.col("_r").cast("bigint") * 50_000_000).alias("vec_id"),
    "embedding",
)
src = os.path.join(root, "corpus")
rep.write.mode("overwrite").parquet(src)
corpus = spark.read.parquet(src)
n = corpus.count()
cents = (
    base.filter((F.col("vec_id") % STRIDE == 0) & (F.col("vec_id") / STRIDE < N_CELLS))
    .select(F.expr(f"CAST(vec_id DIV {STRIDE} AS BIGINT)").alias("cell"), "embedding")
    .localCheckpoint(eager=True)
)
trickle_lim = TRICKLE * TRICKLE_N
bulk = corpus.filter(F.col("vec_id") % 997 >= TRICKLE).localCheckpoint(eager=True)
trickles = [
    corpus.filter(F.col("vec_id") % 997 == i).limit(TRICKLE_N).localCheckpoint(eager=True)
    for i in range(TRICKLE)
]
print(f"corpus: {n} vectors ({REP}x sf0.1 {n_base}), {N_CELLS} cells, "
      f"bulk load + {TRICKLE} trickle batches of ~{TRICKLE_N}")


def du_rows(path):
    """(rows, bytes) of the parquet files under a version dir tree."""
    total = 0
    for dp, _d, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f))
                     for f in files if f.endswith(".parquet"))
    return spark.read.parquet(path).count() if total else 0, total


def delta_written(edges_root, version):
    rows = b = 0
    for nm in os.listdir(edges_root):
        if not nm.startswith("hc"):
            continue
        d = os.path.join(edges_root, nm, f"b{version}")
        if os.path.isdir(d):
            r, bb = du_rows(d)
            rows += r
            b += bb
    return rows, b


def legacy_sink(state_root, batch_df, batch_id):
    """The r15 full-snapshot rewrite, verbatim shape."""
    s = batch_df.sparkSession
    version = 2 * batch_id + 2
    index_root = os.path.join(state_root, "index")
    probes_root = os.path.join(state_root, "probes")
    edges_root = os.path.join(state_root, "edges")
    for p in (probes_root, edges_root):
        os.makedirs(p, exist_ok=True)
    bq = _probe_side(batch_df, cents, "vec_id", "embedding", N_PROBE).localCheckpoint(
        eager=True
    )
    prior = committed_versions(probes_root, version)
    ivf_index_update(s, batch_df, index_root, version, cents, "vec_id", "embedding")
    sel = lambda df: df.select(
        F.col("vec_id").alias("neighbor_id"), "cell",
        F.col("qvec").alias("cvec"), F.col("qnorm2").alias("cn2"),
    )
    index = sel(s.read.parquet(*ivf_index_segments(index_root)))
    batch_index = sel(s.read.parquet(f"{index_root}/v={version}"))
    cands = _serve_scores(index, bq)
    if prior:
        cands = cands.unionByName(_serve_scores(batch_index, s.read.parquet(*prior)))
    prev_dirs = committed_versions(edges_root, version)
    merged = cands
    if prev_dirs:
        merged = merged.unionByName(
            s.read.parquet(max(prev_dirs, key=version_id)).select(
                "query_id", "neighbor_id", "cosine"
            )
        )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    (
        merged.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= K)
        .write.mode("overwrite")
        .parquet(os.path.join(edges_root, f"b{version}"))
    )
    bq.drop("home").write.mode("overwrite").parquet(
        os.path.join(probes_root, f"b{version}")
    )
    if len(prev_dirs) > 1:
        keep = max(prev_dirs, key=version_id)
        for d in prev_dirs:
            if d != keep:
                shutil.rmtree(d, ignore_errors=True)


part_root = os.path.join(root, "part")
sink = make_knn_graph_sink(part_root, cents, k=K, n_probe=N_PROBE,
                           compact_probes_after=4, compact_edges_after=8)
batches = [bulk] + trickles
part = []
for b, df in enumerate(batches):
    t0 = time.time()
    sink(df, b)
    dt = time.time() - t0
    rows, byts = delta_written(os.path.join(part_root, "edges"), 2 * b + 2)
    part.append((dt, rows, byts))
    print(f"  delta batch {b}: {dt:.1f}s wrote {rows} rows / {byts // 1024} KiB")

leg_root = os.path.join(root, "leg")
leg = []
for b, df in enumerate(batches):
    t0 = time.time()
    legacy_sink(leg_root, df, b)
    dt = time.time() - t0
    rows, byts = du_rows(os.path.join(leg_root, "edges", f"b{2 * b + 2}"))
    leg.append((dt, rows, byts))
    print(f"  legacy batch {b}: {dt:.1f}s wrote {rows} rows / {byts // 1024} KiB")

snap_p = sorted(
    (r.query_id, r.rank, r.neighbor_id, r.cosine)
    for r in knn_graph_snapshot(spark, part_root).collect()
)
snap_l = sorted(
    (r.query_id, r.rank, r.neighbor_id, r.cosine)
    for r in spark.read.parquet(
        max(committed_versions(os.path.join(leg_root, "edges"), 10**9),
            key=version_id)
    ).select("query_id", "rank", "neighbor_id", "cosine").collect()
)
print("snapshots equal:", snap_p == snap_l, f"({len(snap_p)} edges)")
pt = [p for p, _, _ in part[1:]]
lt = [p for p, _, _ in leg[1:]]
pr = sum(r for _, r, _ in part[1:]) / len(part[1:])
lr = sum(r for _, r, _ in leg[1:]) / len(leg[1:])
print(f"trickle batches — delta: mean {sum(pt)/len(pt):.1f}s, {pr:.0f} rows/batch; "
      f"legacy: mean {sum(lt)/len(lt):.1f}s, {lr:.0f} rows/batch "
      f"(write reduction {lr/max(pr,1):.1f}x)")
shutil.rmtree(root, ignore_errors=True)
