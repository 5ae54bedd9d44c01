"""SCALE.md §32 experiment: filtered vector search — where the adaptive
cutoff belongs.

At 200 k × 64-dim, time the two strategies `ann.adaptive_filtered_knn`
switches between, across filter selectivities:

  * EXACT: score every filter survivor, top-k (recall 1.0)
  * IVF:   assign survivors to cells, rank only the probed cells

plus the statistics probe itself (the count() the switch pays).

Run: python scripts/scale32_adaptive_filtered.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REP = 100
N_CENTROIDS = 64


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators import ann
    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (SparkSession.builder.master("local[32]")
             .appName("scale32")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]
    perturbed = F.transform(
        "embedding",
        lambda x: (x.cast("double")
                   + F.col("rep").cast("double") * 1e-6).cast("float"))
    corpus = (emb.withColumn("rep", F.explode(
                  F.sequence(F.lit(0), F.lit(REP - 1))))
              .withColumn("embedding", perturbed)
              .select((F.col("vec_id") * REP + F.col("rep")).alias("vec_id"),
                      "embedding")
              .withColumn("sel_key", F.col("vec_id") % 1000)
              .repartition(64)
              .localCheckpoint(eager=True))
    n = corpus.count()
    cents = (corpus.filter(F.col("vec_id") % (n // N_CENTROIDS) == 0)
             .limit(N_CENTROIDS)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("centroid"))
             .localCheckpoint(eager=True))

    def timed(fn, reps=3):
        walls = []
        for _ in range(reps):
            t = time.time()
            fn()
            walls.append(round(time.time() - t, 3))
        return statistics.median(walls)

    results = []
    for thresh in (1, 10, 100, 1000):
        filt = corpus.filter(F.col("sel_key") < thresh)
        n_f = filt.count()
        probe_s = timed(lambda: filt.count())
        score = exact_score(vector_literal_sql(qv), "embedding")
        exact_s = timed(lambda: (
            filt.select("vec_id", score.alias("s"))
            .orderBy(F.col("s").desc(), "vec_id").limit(5).collect()))
        ivf_s = timed(lambda: ann.ivf_knn(
            filt, cents, qv, k=5, nprobe=2).collect())
        results.append({"selectivity": thresh / 1000.0,
                        "survivors": n_f,
                        "stats_probe_s": probe_s,
                        "exact_s": exact_s, "ivf_s": ivf_s})
        print(json.dumps(results[-1]), file=sys.stderr)
    print(json.dumps({"rows": n, "results": results}, indent=2))


if __name__ == "__main__":
    main()
