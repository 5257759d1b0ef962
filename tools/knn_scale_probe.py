"""Bulk-kNN scale probe (SCALE.md round-15 row): x139's corpus-sized-query
IVF join at a disk-resident 10x corpus, with the n_cells sweep — the 100 TB
sizing knob (candidates per query ~ corpus * n_probe / n_cells).

Usage: python tools/knn_scale_probe.py   (writes under /tmp/knn_probe)

Replicas shift vec_id only; embedding vectors repeat per replica, so the
CELL OCCUPANCY distribution — the thing candidate volume depends on — is
preserved exactly while the corpus grows (the honest growth model for a
join whose cost is cell-size x probe-fanout, not content-dependent).
Corpora are written to disk and re-read so partitioning matches a real
layout (the substr-probe discipline).
"""
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")
import pyspark.sql.functions as F

from hiveka_spark.catalog import table
from hiveka_spark.operators.similarity import ivf_topk
from hiveka_spark.session import get_spark

spark = get_spark("knn-probe")
SF = "/root/testdata/sf0.1"
K, N_PROBE, STRIDE = 3, 4, 31
root = "/tmp/knn_probe"
shutil.rmtree(root, ignore_errors=True)

base = table(spark, SF, "embeddings")


def replicate(df, n):
    if n == 1:
        return df
    r = df.withColumn("_r", F.explode(F.lit(list(range(n)))))
    return r.withColumn(
        "vec_id", F.col("vec_id") + F.col("_r").cast("bigint") * 50_000_000
    ).drop("_r")


for n in (1, 4, 10):
    replicate(base, n).write.mode("overwrite").parquet(f"{root}/x{n}")

print("| replicas | rows | n_cells (stride) | eff cells | candidates | knn time (s) |")
print("|---|---|---|---|---|---|")
# the 256-cell arm takes stride 7: stride-31 sampling needs vec_id < 31*256,
# which the base fixture's id range cannot supply (the centroid-SUPPLY seam —
# at 100 TB centroids are trained offline and handed in, so the sweep's knob
# is genuinely n_cells, not the sampling stride)
for n in (1, 4, 10):
    e = spark.read.parquet(f"{root}/x{n}")
    rows = e.count()
    for n_cells, stride in ((16, STRIDE), (64, STRIDE), (256, 7)):
        g = ivf_topk(
            e, e, "vec_id", "embedding",
            k=K, n_cells=n_cells, n_probe=N_PROBE,
            centroid_stride=stride, broadcast_queries=False,
        )
        t0 = time.perf_counter()
        g.count()
        dt = round(time.perf_counter() - t0, 2)
        # measured candidate volume = sum over cells of
        # |corpus in cell| * |queries probing cell| (the n_cells knob's target)
        from hiveka_spark.operators.similarity import (
            _cell_centroids,
            cosine_sql,
            with_quantized_norm,
        )
        from pyspark.sql import Window

        v = with_quantized_norm(e, "embedding")
        cents = _cell_centroids(
            v, e, "vec_id", "embedding", n_cells, stride, None
        ).localCheckpoint(eager=True)
        eff = cents.count()
        scored = v.crossJoin(F.broadcast(cents)).withColumn(
            "c_cos",
            cosine_sql("qvec", "cvec", "qnorm2", "cn2"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("cell"))
        ranked = scored.withColumn("r", F.row_number().over(w))
        occ = ranked.filter(F.col("r") == 1).groupBy("cell").agg(
            F.count(F.lit(1)).alias("nc"))
        probes = ranked.filter(F.col("r") <= N_PROBE).groupBy(
            "cell").agg(F.count(F.lit(1)).alias("np"))
        cand = occ.join(probes, "cell").agg(
            F.sum(F.col("nc") * F.col("np"))).collect()[0][0]
        print(f"| {n}x | {rows} | {n_cells} ({stride}) | {eff} | {cand} | {dt} |", flush=True)
shutil.rmtree(root, ignore_errors=True)
