"""SCALE.md §29 experiment: binary Hamming ranking vs float L2 ranking.

The binary tier's claim is twofold: (1) the packed corpus is 32× smaller
to scan, (2) the ranking arithmetic is integer XOR+popcount instead of a
64-term float fold. This measures both on 1 M unique 64-dim vectors with
the sign packs MATERIALIZED (2 BIGINT words/vector, as a real deployment
would store them), against the full float ranking on the same corpus.

Run: python scripts/scale29_binary_scan.py [sf_dir]
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


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.ann import (
        sign_pack_words,
    )
    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (SparkSession.builder.master("local[32]")
             .appName("scale29")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]

    perturbed = F.transform(
        "embedding",
        lambda x: (x.cast("double")
                   + F.col("rep").cast("double") * 1e-7).cast("float"))
    corpus = (emb.withColumn("rep", F.explode(
                  F.sequence(F.lit(0), F.lit(REP - 1))))
              .withColumn("embedding", perturbed)
              .select((F.col("vec_id") * REP + F.col("rep")).alias("vec_id"),
                      "embedding"))
    path = tempfile.mkdtemp(prefix="bq29_")
    (corpus.select("vec_id", "embedding",
                   *sign_pack_words("embedding", 64))
     .repartitionByRange(32, "vec_id").sortWithinPartitions("vec_id")
     .write.mode("overwrite").parquet(path))
    table = spark.read.parquet(path)
    n = table.count()

    q_words = []
    for w in range(2):
        word = 0
        for i, x in enumerate(list(qv)[w * 32:(w + 1) * 32]):
            if float(x) > 0.0:
                word += 1 << i
        q_words.append(word)

    def run_float() -> float:
        t0 = time.time()
        (table.select("vec_id", exact_score(vector_literal_sql(qv),
                                            "embedding").alias("s"))
         .orderBy(F.col("s").desc(), F.col("vec_id").asc())
         .limit(25).collect())
        return round(time.time() - t0, 2)

    def run_hamming() -> float:
        t0 = time.time()
        ham = (F.bit_count(F.col("bq_word_0")
                           .bitwiseXOR(F.lit(q_words[0]).cast("long")))
               + F.bit_count(F.col("bq_word_1")
                             .bitwiseXOR(F.lit(q_words[1]).cast("long"))))
        (table.select("vec_id", ham.cast("int").alias("h"))
         .orderBy(F.col("h").asc(), F.col("vec_id").asc())
         .limit(25).collect())
        return round(time.time() - t0, 2)

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
    words_mb = sum(v for k, v in col_bytes.items()
                   if k.startswith("bq_word")) / 1e6

    walls = {"float_l2": [], "hamming": []}
    for _ in range(5):
        walls["float_l2"].append(run_float())
        walls["hamming"].append(run_hamming())
    out = {
        "rows": n,
        "float_median_s": statistics.median(walls["float_l2"][1:]),
        "hamming_median_s": statistics.median(walls["hamming"][1:]),
        "embedding_mb": round(col_bytes.get("embedding", 0) / 1e6, 1),
        "packed_words_mb": round(words_mb, 1),
        "runs": walls,
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
