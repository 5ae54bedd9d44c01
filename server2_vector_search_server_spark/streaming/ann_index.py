"""Streaming ANN index maintenance — a readStream-refreshed IVF-PQ index.

The reference's ANN index is maintained online: ChromaDB applies
``embeddings_queue`` WAL rows to its HNSW segment in batches
(``batch_size=100, sync_threshold=1000`` — collection config in
``/root/reference/vector_db_collections/master/chroma.sqlite3``), so a search
issued after an upload sees the new vectors without an index rebuild. This
module closes the same loop for the materialized IVF-PQ index
(``operators/ann.write_ivf_pq_index``): new vectors arrive as a stream, each
micro-batch is IVF-assigned and PQ-encoded **incrementally**, and the encoded
rows are appended to the partitioned index.

Why this is the right 100 TB shape:

* **Only the batch is re-encoded.** Cell assignment (argmin over broadcast
  centroid literals) and PQ encoding (argmin per subspace slice) are narrow
  per-row projections over the micro-batch — cost proportional to arrival
  rate, not corpus size. The existing index files are never read, never
  rewritten.
* **Appends land only in the touched cells.** ``partitionBy(centroid_id)``
  with append mode creates new files only under the partitions the batch's
  rows map to; a search's partition-pruned probe picks them up on the next
  parquet listing with no coordination.
* **Exactly-once via checkpoint + idempotent batch write.** Source offsets
  live in the streaming checkpoint (the ``max_seq_id`` consumer-offset
  analog, cf. ``streaming/wal.py``), and each micro-batch lands under its
  own ``ingest_batch=<id>`` leaf partitions written with DYNAMIC partition
  overwrite — a batch replayed after a failure between the write and the
  checkpoint commit overwrites exactly its own files instead of appending
  duplicates. Offsets-tracking alone gives at-least-once; the idempotent
  write is what upgrades it to exactly-once.
* **Frozen quantizers.** Centroids and codebooks are immutable while the
  stream runs — the standard IVF-PQ serving discipline (cf. Faiss: adding
  vectors never retrains the coarse quantizer). Retraining is an offline
  rebuild (``write_ivf_pq_index`` to a fresh path) followed by the
  crash-safe directory swap ``WalLog.compact()`` uses to put its new base
  in (``sources/fs.py``'s ``Tree.swap``: rename aside, rename in, delete
  aside).

**Concurrency contract (single writer per index).** Micro-batches within one
streaming query run strictly sequentially; concurrent queries appending to
the same index path would interleave files safely (parquet append is
file-granular) but would double-apply shared sources — run one refresh
stream per index, the same discipline as ``streaming/ingest.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.operators import ann

# Schema of the vector arrival stream — the embeddings fixture's shape.
VECTORS_STREAM_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def refresh_ivf_pq_index(
    batch: DataFrame,
    index_path: str,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode one micro-batch of new vectors and add it to the index
    idempotently.

    The incremental twin of ``operators/ann.write_ivf_pq_index``: same
    assignment + encoding, applied to the batch only. Rows are stamped with
    ``batch_id`` and written with dynamic partition overwrite, so the write
    replaces exactly the ``centroid_id=*/ingest_batch=<batch_id>`` leaf
    partitions this batch produces: re-running the same batch (foreachBatch
    replay after a failure before the checkpoint commit) converges to the
    same files instead of duplicating rows. Deterministic given frozen
    centroids/codebooks, so a streamed index is row-identical to a
    from-scratch build over the same rows (asserted in tests).
    """
    assigned = ann.ivf_assign(batch, centroids, vec_col=vec_col,
                              id_col=id_col)
    encoded = ann.pq_encode(assigned, codebooks, vec_col=vec_col)
    (encoded.withColumn("ingest_batch", F.lit(batch_id).cast("long"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("centroid_id", "ingest_batch").parquet(index_path))


def start_ivf_pq_refresh_stream(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    schema: str = VECTORS_STREAM_SCHEMA,
):
    """Consume new-vector parquet files from ``src_dir`` and keep the
    materialized IVF-PQ index at ``index_path`` current. Returns the
    StreamingQuery; searches go through ``ann.ivf_pq_knn_indexed`` unchanged
    — the index layout is identical to a batch build."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        refresh_ivf_pq_index(batch, index_path, centroids, codebooks,
                             batch_id=batch_id, vec_col=vec_col,
                             id_col=id_col)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    writer = (
        stream.writeStream
        .foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
