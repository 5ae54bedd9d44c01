"""SCALE.md §38 experiment: the training-side ANN lifecycle — hard-negative
mining cost vs anchor-batch size, and incremental IVF index upkeep cost vs
index age.

Part A — hard-negative mining (plans/training_queries.py shape) over a
replicated 200 k × 64-dim corpus: anchors broadcast, corpus scanned once,
per-anchor top-k as a rank-limited window. Questions: does wall-clock scale
with ANCHORS (it must — scored rows are corpus × anchors) and does the
window plan as a partial top-k (WindowGroupLimit) rather than shuffling the
full scored set?

Part B — incremental IVF upkeep (plans/ann_queries.streaming_ann_index_upkeep
shape): commit 8 batches of 25 k vectors into an ingest_batch/centroid_id
partitioned index; measure per-batch commit wall (should be FLAT — assignment
is a narrow projection of the batch, never touching the existing index) and
serving wall after each batch (should grow only with the probed cells'
row count, not with batch count).

Run: python scripts/scale38_training_ann_lifecycle.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REP = 100           # 2000 base vectors -> 200k corpus
N_CENTROIDS = 64
NPROBE = 4
K = 5
ANCHOR_COUNTS = [8, 32, 128, 256]
N_BATCHES = 8


def main() -> None:
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.functions.vector import (
        dot_sql,
        l2_normalize_sql,
    )
    from server2_vector_search_server_spark.operators import ann

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (SparkSession.builder.master("local[32]")
             .appName("scale38")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    perturbed = F.transform(
        "embedding",
        lambda x: (x.cast("double")
                   + F.col("rep").cast("double") * 1e-6).cast("float"))
    corpus = (emb.withColumn("rep", F.explode(
                  F.sequence(F.lit(0), F.lit(REP - 1))))
              .withColumn("embedding", perturbed)
              .select((F.col("vec_id") * REP + F.col("rep")).alias("vec_id"),
                      "label", "embedding")
              .repartition(64)
              .localCheckpoint(eager=True))
    n = corpus.count()
    print(f"corpus rows: {n}")

    # ---- Part A: hard-negative mining vs anchor count ---------------------
    normed = corpus.select(
        "vec_id", "label", F.expr(l2_normalize_sql("embedding")).alias("nv"))
    results_a = []
    for n_anchors in ANCHOR_COUNTS:
        anchors = (normed.filter(F.col("vec_id") % (n // n_anchors) == 0)
                   .limit(n_anchors)
                   .select(F.col("vec_id").alias("anchor_id"),
                           F.col("label").alias("anchor_label"),
                           F.col("nv").alias("anchor_nv"))
                   .localCheckpoint(eager=True))
        t0 = time.time()
        scored = (normed.join(
            F.broadcast(anchors),
            F.col("label") != F.col("anchor_label"))
            .withColumn("cosine", F.expr(
                f"round({dot_sql('anchor_nv', 'nv')}, 6)")))
        w = Window.partitionBy("anchor_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc())
        out = (scored.withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") <= K)
               .select("anchor_id", "vec_id", "cosine"))
        out.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        plan = out._jdf.queryExecution().executedPlan().toString()
        partial_topk = "WindowGroupLimit" in plan
        results_a.append({"anchors": n_anchors, "wall_s": round(wall, 2),
                          "window_group_limit": partial_topk})
        print(json.dumps(results_a[-1]))

    # ---- Part B: incremental IVF upkeep vs index age ----------------------
    cents = (corpus.filter(F.col("vec_id") % (n // N_CENTROIDS) == 0)
             .limit(N_CENTROIDS)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("centroid"))
             .localCheckpoint(eager=True))
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 42).first()["embedding"]]
    index = tempfile.mkdtemp(prefix="scale38_index_")
    batch_size = n // N_BATCHES
    results_b = []
    for b in range(N_BATCHES):
        batch = corpus.filter(
            (F.col("vec_id") >= b * batch_size)
            & (F.col("vec_id") < (b + 1) * batch_size))
        t0 = time.time()
        (ann.ivf_assign(batch, cents)
         .withColumn("ingest_batch", F.lit(b))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("ingest_batch", "centroid_id").parquet(index))
        commit_wall = time.time() - t0
        t0 = time.time()
        ann.ivf_knn_indexed(spark, index, cents, qv,
                            k=K, nprobe=NPROBE).collect()
        serve_wall = time.time() - t0
        results_b.append({"batch": b,
                          "index_rows": (b + 1) * batch_size,
                          "commit_s": round(commit_wall, 2),
                          "serve_s": round(serve_wall, 2)})
        print(json.dumps(results_b[-1]))

    # compaction payoff: file count + serving before/after fold
    n_files_frag = sum(len(fs) for _, _, fs in os.walk(index))
    compacted = tempfile.mkdtemp(prefix="scale38_compact_")
    t0 = time.time()
    (spark.read.parquet(index).drop("ingest_batch")
     .repartition("centroid_id")
     .write.mode("overwrite").partitionBy("centroid_id").parquet(compacted))
    compact_wall = time.time() - t0
    n_files_comp = sum(len(fs) for _, _, fs in os.walk(compacted))
    t0 = time.time()
    ann.ivf_knn_indexed(spark, compacted, cents, qv,
                        k=K, nprobe=NPROBE).collect()
    serve_comp = time.time() - t0
    summary = {"files_fragmented": n_files_frag,
               "files_compacted": n_files_comp,
               "compact_wall_s": round(compact_wall, 2),
               "serve_compacted_s": round(serve_comp, 2)}
    print(json.dumps({"part_a": results_a, "part_b": results_b,
                      "compaction": summary}))
    shutil.rmtree(index, ignore_errors=True)
    shutil.rmtree(compacted, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
