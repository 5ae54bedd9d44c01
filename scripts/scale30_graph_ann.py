"""SCALE.md §30 experiment: graph ANN end-to-end at 100 k vectors.

Build the bucketed k-NN graph (shared-IVF-cell candidates — no quadratic
stage), MATERIALIZE it, then serve queries with the beam walk. Reports the
one-time build cost, the per-query beam cost over the materialized edges,
and a brute-force full-scan query for comparison — the HNSW trade made
measurable: pay the graph build once, answer queries touching
O(hops × beam × degree) edge rows.

Run: python scripts/scale30_graph_ann.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REP = 20            # 2000 x 20 = 40k vectors
N_CELLS = 512
GRAPH_K = 8
BEAM, HOPS = 8, 3


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.graph import (
        beam_search_knn,
        knn_graph_bucketed,
    )
    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (SparkSession.builder.master("local[32]")
             .appName("scale30")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
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
              .localCheckpoint(eager=True))
    n = corpus.count()
    centroids = (corpus.filter(F.col("vec_id") % (n // N_CELLS) == 0)
                 .limit(N_CELLS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid"))
                 .localCheckpoint(eager=True))

    edges_path = tempfile.mkdtemp(prefix="gann30_")
    t0 = time.time()
    (knn_graph_bucketed(corpus, centroids, k=GRAPH_K, nprobe=2)
     .write.mode("overwrite").parquet(edges_path))
    build_s = round(time.time() - t0, 1)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()

    def run_beam() -> float:
        t = time.time()
        beam_search_knn(corpus, edges, qv, k=5, beam=BEAM, hops=HOPS,
                        entry_ids=(0,)).collect()
        return round(time.time() - t, 2)

    def run_exact() -> float:
        t = time.time()
        (corpus.select("vec_id", exact_score(vector_literal_sql(qv),
                                             "embedding").alias("s"))
         .orderBy(F.col("s").desc(), "vec_id").limit(5).collect())
        return round(time.time() - t, 2)

    walls = {"beam": [], "exact": []}
    for _ in range(4):
        walls["beam"].append(run_beam())
        walls["exact"].append(run_exact())
    out = {
        "corpus_rows": n,
        "graph_build_s": build_s,
        "n_edges": n_edges,
        "beam_query_median_s": statistics.median(walls["beam"][1:]),
        "exact_query_median_s": statistics.median(walls["exact"][1:]),
        "runs": walls,
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
