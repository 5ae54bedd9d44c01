"""User-facing engine facade — the reference's endpoint surface, Spark-native.

A user of the reference drives it through six FastAPI endpoints
(``/root/reference/app.py``). This class exposes the same operations with the
same observable semantics, DataFrames in/out instead of HTTP:

=====================  =========================================  ===========
reference endpoint     method here                                reference
=====================  =========================================  ===========
POST /upload-document  :meth:`upload_documents`                   app.py:119-364
POST /search           :meth:`search`                             app.py:367-393
POST /search_score     :meth:`search_score`                       app.py:396-444
GET  /list-documents   :meth:`list_documents`                     app.py:447-484
GET  /documents_ui     :meth:`documents_ui`                       app.py:521-593
DELETE /documents/{id} :meth:`delete_document`                    app.py:487-518
=====================  =========================================  ===========

Semantics preserved exactly:

* keywords may be a list (joined with spaces, app.py:373,402) or a string;
* ``k == -1`` falls back to ``SEARCH_K`` (vector_store.py:141,158);
* ``/search`` degrades to an EMPTY result on engine errors
  (vector_store.py:152-154) while ``/search_score`` raises (app.py:442-444);
* ``/search_score`` applies ``score = 1 - d²`` with threshold 0.1 and sorts
  descending (app.py:414-432);
* uploads pass a GLOBAL dedup gate on ``doc_name`` (app.py:152-157) and
  report per-file statuses shaped like ``FileUploadStatus``
  (api_models.py:18-35);
* deletes cascade across collections (vector_store.py:190-298) — structural
  here, because master is the union of one partitioned table.

Scale: every method is a thin composition of the library's operators — the
partition-pruned scan, broadcast-scored top-k, and anti-join gate all hold
their plans at cluster scale; only :meth:`upload_documents`' per-file status
summary collects (bounded by the number of uploaded files, not rows).
"""

from __future__ import annotations

import logging
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.embedding import (
    embed_hash,
    hash_embedding_expr,
)
from server2_vector_search_server_spark.operators.catalog import (
    group_documents,
    list_documents as _list_documents,
)
from server2_vector_search_server_spark.plans.ingest import ingest_documents
from server2_vector_search_server_spark.sources.store import ChunkStore

_log = logging.getLogger(__name__)


def _join_keywords(keywords: str | Sequence[str]) -> str:
    """``" ".join`` on lists, passthrough on strings (app.py:373,402)."""
    if isinstance(keywords, str):
        return keywords
    return " ".join(keywords)


class DocumentSearchEngine:
    """The reference server's capability surface over one ChunkStore."""

    def __init__(self, spark: SparkSession, root: str, *,
                 embed_dim: int = config.TEST_EMBEDDING_DIM,
                 embedder=embed_hash,
                 store_cls: type = ChunkStore):
        """``store_cls`` selects the storage backend: the in-place
        partitioned ``ChunkStore`` (default) or the snapshot-isolated
        ``sources.snapshots.SnapshotChunkStore`` — both satisfy the same
        append/read/delete_document/is_empty contract, so every endpoint
        runs unchanged on either."""
        self.spark = spark
        self.store = store_cls(spark, root)
        self.embed_dim = embed_dim
        self.embedder = embedder
        # calls to search() that hit an engine error and returned the
        # empty frame instead (the reference swallows them silently)
        self.search_errors = 0

    # -- J2: query-side embedding (driver-side single encode) ---------------
    def embed_query(self, query: str) -> list[float]:
        """Encode ONE query string with the same function documents get —
        the reference uses one model for both sides with no E5 role prefixes
        (embedding.py:11-15, SURVEY.md §2.J caveat). Runs ``self.embedder``
        over a one-row DataFrame with the ingest call convention, so an
        engine built with a custom embedder searches with MATCHING vectors
        (a hash-embedded query against model-embedded chunks would silently
        score garbage). The hash default selects the one-string SQL
        expression ``embed_hash`` stores with, over a literal: ~50 py4j
        round trips and one job, and the bitwise-same vector as the stored
        chunk of the same text. The returned vector is inlined as a literal
        into the scoring plan.
        """
        if self.embedder is embed_hash:
            row = (self.spark.range(1).select(F.lit(query).alias("q"))
                   .select(hash_embedding_expr("q", self.embed_dim)
                           .alias("v"))
                   .first())
            return [float(x) for x in row["v"]]
        one = self.spark.createDataFrame([(query,)], "content string")
        row = (self.embedder(one, text_col="content", out_col="embedding",
                             dim=self.embed_dim)
               .select("embedding").first())
        return [float(x) for x in row["embedding"]]

    # -- POST /upload-document ----------------------------------------------
    def upload_documents(
        self,
        docs: DataFrame | Sequence[tuple[str, str]],
        collection_name: str = config.MASTER_COLLECTION_NAME,
        **ingest_kwargs: Any,
    ) -> list[dict[str, Any]]:
        """Ingest documents; returns per-file statuses (api_models.py:18-35).

        ``docs``: a DataFrame with (doc_name, text) columns, or a small list
        of ``(doc_name, text)`` tuples. Documents whose ``doc_name`` already
        exists in ANY collection are skipped (the global dedup gate,
        app.py:152-157); duplicate names WITHIN the batch collapse to one
        upload (the reference processes files sequentially, so its exists
        check skips the later copies — for list input the first occurrence
        wins); the rest are chunked, embedded, and appended.
        """
        if not isinstance(docs, DataFrame):
            seen: dict[str, str] = {}
            for name, text in docs:
                seen.setdefault(name, text)
            docs = self.spark.createDataFrame(
                list(seen.items()), "doc_name string, text string")
        else:
            docs = docs.dropDuplicates(["doc_name"])
        # names that exist BEFORE this ingest: distinguishes "skipped as
        # duplicate" from "parsed to zero chunks" in the status report
        if self.store.is_empty():
            pre_existing: set[str] = set()
        else:
            pre_existing = {
                r["doc_name"] for r in
                docs.select("doc_name").join(
                    self.store.read(None).select("doc_name").distinct(),
                    "doc_name", "left_semi").collect()}
        written = ingest_documents(
            self.store, docs, collection=collection_name,
            embed_dim=self.embed_dim, embedder=self.embedder,
            **ingest_kwargs)
        added = {
            r["doc_name"]: r["n_chunks"]
            for r in written.groupBy("doc_name")
            .agg(F.count(F.lit(1)).alias("n_chunks")).collect()
        }
        statuses = []
        for r in docs.select("doc_name").collect():
            name = r["doc_name"]
            if name in added:
                statuses.append({"filename": name, "status": "success",
                                 "chunks_added": added[name], "error": None})
            elif name in pre_existing:
                statuses.append({
                    "filename": name, "status": "skipped", "chunks_added": 0,
                    "error": "Document with the same name already exists"})
            else:
                statuses.append({
                    "filename": name, "status": "error", "chunks_added": 0,
                    "error": "No content extracted"})
        return statuses

    # -- POST /search_score --------------------------------------------------
    def search_score(
        self,
        keywords: str | Sequence[str],
        k: int = config.DEFAULT_API_K,
        filter: Mapping[str, Any] | None = None,
        collection_name: str = config.MASTER_COLLECTION_NAME,
        threshold: float | None = config.SIMILARITY_THRESHOLD,
    ) -> DataFrame:
        """Scored, thresholded, descending top-k (app.py:396-444). Errors
        propagate — the reference returns HTTP 500 (app.py:442-444).
        Delegates to plans/ingest.search_store — ONE copy of the
        /search_score pipeline."""
        from server2_vector_search_server_spark.plans.ingest import (
            search_store,
        )

        qvec = self.embed_query(_join_keywords(keywords))
        return search_store(self.store, qvec, collection=collection_name,
                            k=k, where=filter, threshold=threshold)

    # -- POST /search ---------------------------------------------------------
    def search(
        self,
        keywords: str | Sequence[str],
        k: int = config.DEFAULT_API_K,
        filter: Mapping[str, Any] | None = None,
        collection_name: str = config.MASTER_COLLECTION_NAME,
    ) -> DataFrame:
        """Unscored top-k. Engine errors degrade to an EMPTY result instead
        of raising — the reference's vector_store swallows exceptions to []
        (vector_store.py:152-154) so /search never 500s on store errors.
        Unlike the reference, each swallowed error is logged once (with its
        traceback) and counted in ``self.search_errors``."""
        try:
            out = self.search_score(keywords, k=k, filter=filter,
                                    collection_name=collection_name,
                                    threshold=None).drop("score")
            out.schema  # force analysis so bad filters surface here
            return out
        except Exception:
            self.search_errors += 1
            _log.exception("search degraded to an empty result")
            # derived from the store schema (minus the vector knn_topk
            # drops) so the degraded path can never drift structurally
            # from the success path
            from pyspark.sql import types as T

            from server2_vector_search_server_spark.sources.store import (
                CHUNKS_SCHEMA,
            )

            empty_schema = T.StructType(
                [f for f in CHUNKS_SCHEMA.fields if f.name != "embedding"])
            return self.spark.createDataFrame([], empty_schema)

    # -- GET /list-documents --------------------------------------------------
    def list_documents(
            self,
            collection_name: str = config.MASTER_COLLECTION_NAME) -> DataFrame:
        """Distinct (doc_id, doc_name) catalog (app.py:447-484)."""
        return _list_documents(self.store.read(collection_name))

    # -- GET /documents_ui ----------------------------------------------------
    def documents_ui(
            self,
            collection_name: str = config.MASTER_COLLECTION_NAME) -> DataFrame:
        """Per-document chunk roll-up for the UI (app.py:549-577)."""
        return group_documents(self.store.read(collection_name))

    # -- DELETE /documents/{doc_id} ------------------------------------------
    def delete_document(self, doc_id: str) -> bool:
        """Cascading delete by doc_id (app.py:487-518); True if found."""
        return self.store.delete_document(doc_id)

    # -- upload-gate probes ---------------------------------------------------
    def document_exists(self, doc_name: str,
                        collection_name: str | None = None) -> bool:
        """LIMIT-1 probe; ``None`` = global (vector_store.py:56-89)."""
        return self.store.document_exists(doc_name, collection_name)
