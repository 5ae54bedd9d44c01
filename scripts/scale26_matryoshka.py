"""SCALE.md §26 experiment: Matryoshka prefix ranking — the I/O claim.

`ann_matryoshka_knn` ranks on the first prefix_dim components and exact-
rescores the survivors. The scale claim is that with the prefix MATERIALIZED
as its own column, the corpus-wide ranking scan reads prefix_dim/dim of the
vector bytes (parquet column pruning), and the exact rescore touches only
the candidate rows (id-filter pushdown). This measures both halves on a
1 M-row corpus (sf0.1 embeddings x500, 64-dim, 16-dim prefix):

  * full:    rank on the 64-dim column, top-5            (the baseline scan)
  * prefix:  rank on the 16-dim prefix column, top-25,
             then exact-rescore ONLY those 25 via an IN-pushdown
             point fetch on the id-sorted table           (the funnel)

Also reports the on-disk parquet column footprints — the bytes a column-
pruned ranking scan actually has to read.

Interleaved repeats (warm cache), medians reported — §22's lesson: never
trust a first-run delta; multi-file writes so narrow scans parallelize.

Run: python scripts/scale26_matryoshka.py [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REP = 500
PREFIX = 16
CAND = 25
K = 5


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    spark = (SparkSession.builder.master("local[32]")
             .appName("scale26")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]

    # per-replica perturbation keeps every vector UNIQUE: replicated rows
    # would dictionary/RLE-collapse in parquet and make the scan look free —
    # real embeddings don't compress, and the I/O claim is about real ones
    perturbed = F.transform(
        "embedding",
        lambda x: (x.cast("double")
                   + F.col("rep").cast("double") * 1e-7).cast("float"))
    corpus = (emb.withColumn("rep", F.explode(
                  F.sequence(F.lit(0), F.lit(REP - 1))))
              .withColumn("embedding", perturbed)
              .select((F.col("vec_id") * REP + F.col("rep")).alias("vec_id"),
                      F.slice("embedding", 1, PREFIX).alias("prefix"),
                      "embedding"))
    path = tempfile.mkdtemp(prefix="mrl_")
    # sortWithinPartitions(vec_id) after a range repartition: row-group
    # min/max stats on vec_id make the rescore's IN-filter prune row groups
    (corpus.repartitionByRange(32, "vec_id")
     .sortWithinPartitions("vec_id")
     .write.mode("overwrite").parquet(path))
    table = spark.read.parquet(path)
    n = table.count()

    q_full = vector_literal_sql(qv)
    q_pref = vector_literal_sql(list(qv)[:PREFIX])

    def run_full() -> float:
        t0 = time.time()
        (table.select("vec_id",
                      exact_score(q_full, "embedding").alias("score"))
         .orderBy(F.col("score").desc(), F.col("vec_id").asc())
         .limit(K).collect())
        return round(time.time() - t0, 2)

    def run_prefix() -> float:
        t0 = time.time()
        cand = (table.select("vec_id", exact_score(q_pref, "prefix")
                             .alias("score_prefix"))
            .orderBy(F.col("score_prefix").desc(), F.col("vec_id").asc())
            .limit(CAND).collect())
        ids = [r["vec_id"] for r in cand]
        (table.filter(F.col("vec_id").isin(ids))
         .select("vec_id", exact_score(q_full, "embedding").alias("score"))
         .orderBy(F.col("score").desc(), F.col("vec_id").asc())
         .limit(K).collect())
        return round(time.time() - t0, 2)

    # on-disk column footprint: what a pruned scan must read
    import pyarrow.parquet as pq
    col_bytes: dict[str, int] = {}
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema.split(".")[0]
                col_bytes[name] = (col_bytes.get(name, 0)
                                   + col.total_compressed_size)

    walls = {"full": [], "prefix": []}
    for _ in range(5):
        walls["full"].append(run_full())
        walls["prefix"].append(run_prefix())
    out = {
        "rows": n,
        "full_median_s": statistics.median(walls["full"][1:]),
        "prefix_median_s": statistics.median(walls["prefix"][1:]),
        "col_mb": {k: round(v / 1e6, 1) for k, v in col_bytes.items()},
        "runs": walls,
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
