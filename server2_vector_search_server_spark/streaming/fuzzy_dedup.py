"""Streaming fuzzy dedup: MinHash/LSH band state persisted across
micro-batches.

`dedup_minhash_keep_min` is the batch form (keep a doc iff it is the
minimum id in EVERY LSH bucket it lands in); this module is its ONLINE
twin: documents arrive in id-ordered micro-batches, each batch consults
the band table accumulated from prior batches, and a document survives iff
no band of its signature was ever seen on an earlier document (history or
earlier-in-batch). With id-ordered arrival the final kept set is EXACTLY
the batch keep-min answer, which is what makes the stream oracle-checkable
(same SQL as the batch query).

Scale shape, per batch of size B over state of size S:
  * bands(B) is a projection (the single-pass MinHash aggregate),
  * the history consult is an equi-join bands(B) ⋈ state on
    (band_index, band_key) — shuffle ∝ B×bands, never S,
  * state grows by ≤ B×bands rows per batch, stored as per-batch
    partitions so REPLAY of a batch overwrites its own partition
    (idempotent, same discipline as streaming/ann_index.py).

This is how a 100 TB ingest dedups against all history without rescanning
it: the band table IS the index, and it only ever receives appends.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from server2_vector_search_server_spark.operators import dedup
from server2_vector_search_server_spark.sources.fs import Tree

_STATE_SCHEMA = ("band_index int, band_key string, bmin bigint, "
                 "ingest_batch int")


def run_minhash_dedup_stream(spark, src_dir: str, state_dir: str,
                             kept_dir: str, checkpoint_dir: str) -> None:
    """Drain ``src_dir`` (one parquet file per micro-batch, mod-time
    ordered) through the band-state dedup; kept docs land in ``kept_dir``
    partitioned by ingest_batch."""
    # dynamic overwrite is set PER WRITE below (.option), never on the
    # shared session — a session-level set with no restore leaks a
    # semantics-changing config into every later overwrite (ADVICE r3)
    state = Tree(spark, state_dir)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src_dir))

    def process(batch, batch_id: int) -> None:
        s = batch.sparkSession
        bands = dedup.lsh_bands(dedup.add_minhash(batch))
        # per-band min WITHIN this batch (earlier-in-batch suppression)
        batch_min = (bands.groupBy("band_index", "band_key")
                     .agg(F.min("doc_id").alias("_batch_min")))
        if any(not p.startswith(("_", ".")) for p in state.names()):
            hist = (s.read.schema(_STATE_SCHEMA).parquet(state_dir)
                    .filter(F.col("ingest_batch") < batch_id)
                    .groupBy("band_index", "band_key")
                    .agg(F.min("bmin").alias("_hist_min")))
        else:
            hist = s.createDataFrame([], _STATE_SCHEMA).select(
                "band_index", "band_key",
                F.col("bmin").alias("_hist_min"))
        rep_per_band = (batch_min.join(hist, ["band_index", "band_key"],
                                       "left")
                        .select("band_index", "band_key",
                                F.least("_batch_min",
                                        F.coalesce("_hist_min",
                                                   F.col("_batch_min")))
                                .alias("_rep")))
        # kept iff EVERY band's representative is the doc itself; since
        # every rep <= doc_id, that is MIN(rep) == doc_id (the keep-min
        # contract of dedup.drop_minhash_near_duplicates)
        kept_ids = (bands.join(rep_per_band, ["band_index", "band_key"])
                    .groupBy("doc_id")
                    .agg(F.min("_rep").alias("_rep_min"))
                    .filter(F.col("_rep_min") == F.col("doc_id"))
                    .select("doc_id"))
        (batch.join(kept_ids, "doc_id")
         .withColumn("ingest_batch", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("ingest_batch")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(kept_dir))
        (batch_min.select("band_index", "band_key",
                          F.col("_batch_min").alias("bmin"))
         .withColumn("ingest_batch", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("ingest_batch")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(state_dir))

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
