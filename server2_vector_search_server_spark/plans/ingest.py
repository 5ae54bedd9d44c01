"""The ingestion pipeline (SURVEY.md §3.1) as one composed DataFrame plan.

Reference lifecycle (``app.py:119-364``): intake → global dedup gate → (zip
expand) → parse → sentence-split+merge → enrich metadata → embed → store
(dual-write). Engine lifecycle (same observable result, Spark-shaped):

    files_df                               (A1/A2/A4 sources)
      └─ gate, by on_conflict              (C3)
           skip:    left-anti join on doc_name (for the per-file probes)
           append:  none — the caller gated the batch
           replace: none — the write replaces stored documents
         └─ chunk_documents               (H5/H6 — narrow; SQL text for punct/newline)
            └─ enrich                     (H8/H9 — ids + engine metadata)
               └─ embed                   (J1 — SQL-text hash or mapInPandas model)
                  └─ checkpoint           (skip and replace only)
                     └─ store write       (A5 — partitioned append, or upsert)

The checkpoint guards a plan that reads the store it writes to: ``skip``'s
anti-join scans the store, and ``replace``'s upsert overwrites it. An
``append`` plan reads only the batch, so the write cannot change what it
returns, and it is written as given in one job — the reference's own order,
``add_documents`` after its ``document_exists_globally`` check
(app.py:152-157), which ``DocumentSearchEngine.upload_documents`` follows.

With the ``punct`` or ``newline`` splitter and the hash embedder every
step is a JVM expression, so the pipeline starts no Python worker; the
``kss`` and ``words:N`` splitters and a model embedder run in Python.

Determinism: chunk/doc ids are ``md5(doc_name)`` and
``md5(doc_name || '#' || chunk_index)`` (FIXTURES.md rule 2), so outputs
are hash-stable and a re-ingested document keeps its ids. The reference
draws ``uuid()`` ids instead (``app.py:219,298``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.embedding import embed_hash
from server2_vector_search_server_spark.operators.catalog import (
    dedup_new_documents,
)
from server2_vector_search_server_spark.operators.chunking import (
    chunk_documents,
)
from server2_vector_search_server_spark.sources.store import ChunkStore


def ingest_documents(
    store: ChunkStore,
    docs: DataFrame,
    *,
    collection: str = config.MASTER_COLLECTION_NAME,
    name_col: str = "doc_name",
    text_col: str = "text",
    chunk_size: int = config.CHUNK_SIZE,
    chunk_overlap: int = config.CHUNK_OVERLAP,
    split_mode: str = "punct",
    embed_dim: int = config.TEST_EMBEDDING_DIM,
    embedder=embed_hash,
    on_conflict: str = "skip",
) -> DataFrame:
    """Run the full pipeline; returns the chunk rows that were written.

    ``docs``: one row per incoming document with (name_col, text_col).
    ``on_conflict`` picks what happens to names already in the store:

    * ``'skip'`` (the reference's live behavior): the global dedup gate
      skips documents whose name exists in ANY collection
      (``document_exists_globally``, app.py:152 — here one anti-join
      instead of N LIMIT-1 probes);
    * ``'append'``: no gate; the batch is written as given, for a caller
      that has gated it already (the reference calls ``add_documents``
      after its own exists check). The plan reads only ``docs``, so it
      needs no checkpoint; ``docs`` must not read this store, and the
      returned frame re-runs chunking and embedding when it is read;
    * ``'replace'``: no gate — the write goes through
      :meth:`ChunkStore.upsert`, replacing every existing chunk of the
      re-ingested documents (the Chroma WAL upsert semantics, operation=2
      in ``embeddings_queue``).
    """
    if collection not in config.ALL_COLLECTION_NAMES:
        raise ValueError(f"Invalid collection name: {collection!r}")
    if on_conflict not in ("skip", "append", "replace"):
        raise ValueError(f"Invalid on_conflict: {on_conflict!r}")

    incoming = docs.select(F.col(name_col).alias("doc_name"),
                           F.col(text_col).alias("text"))

    if on_conflict == "skip" and not store.is_empty():
        existing = store.read(None)   # global gate: all collections
        incoming = dedup_new_documents(incoming, existing, on="doc_name")

    chunks = (
        chunk_documents(incoming, text_col="text", chunk_size=chunk_size,
                        chunk_overlap=chunk_overlap, mode=split_mode)
        .withColumn("doc_id", F.md5(F.col("doc_name")))
        .withColumn("chunk_id", F.md5(F.concat_ws(
            "#", F.col("doc_name"), F.col("chunk_index").cast("string"))))
        .withColumn("original_collection", F.lit(collection))
        .withColumn("collection", F.lit(collection))
        .withColumn("metadata", F.create_map(
            F.lit("source"), F.col("doc_name")))   # document_processor.py:66-67
    )
    chunks = embedder(chunks, text_col="content", out_col="embedding",
                      dim=embed_dim)
    chunks = chunks.withColumn("embedding",
                               F.col("embedding").cast("array<float>"))
    if on_conflict == "append":
        store.append(chunks)
        return chunks
    # localCheckpoint (eager), NOT persist: the dedup gate's anti-join scans
    # the store path this function is about to append to. A persist()ed plan
    # keeps that lineage, and the append triggers Spark's recacheByPath —
    # re-executing the gate against the UPDATED store, where the rows just
    # written now "exist" and anti-join themselves away (returned DataFrame
    # silently becomes empty). Checkpointing materializes the rows ONCE and
    # severs the lineage, so the append cannot invalidate them, and callers
    # inspecting the result don't re-run chunking + embedding either.
    chunks = chunks.localCheckpoint(eager=True)
    if on_conflict == "replace":
        store.upsert(chunks)
    else:
        store.append(chunks)
    return chunks


def search_store(
    store: ChunkStore,
    query_vec,
    *,
    collection: str = config.MASTER_COLLECTION_NAME,
    k: int = config.DEFAULT_API_K,
    where=None,
    threshold: float | None = config.SIMILARITY_THRESHOLD,
) -> DataFrame:
    """/search_score over the chunk store (SURVEY.md §3.2): partition-pruned
    scan → filtered, scored, thresholded top-k."""
    from server2_vector_search_server_spark.operators.knn import knn_topk

    corpus = store.read(collection)
    return knn_topk(corpus, query_vec, k=k, where=where, threshold=threshold,
                    vec_col="embedding", id_col="chunk_id")
