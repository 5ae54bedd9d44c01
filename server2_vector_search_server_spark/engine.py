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
partition-pruned scan, broadcast-scored top-k, and name-pushdown status probe
hold their plans at cluster scale; only :meth:`upload_documents` collects:
one count per uploaded file, and one name per stored chunk of a re-uploaded
file (bounded by the batch, not by the store).

An upload runs in the JVM end to end: a list batch becomes an Arrow-built
``LocalRelation``, chunking and the hash embedding are SQL-text
expressions, and no plan it builds starts a Python worker (a custom
embedder or a ``kss`` / ``words:N`` split mode brings one back). It pays
two collects before its write: each document's chunk count, and the
status probe, which is its only gate. For list input the counts are
folded on the driver, so a list upload runs at most 2 jobs: the probe,
one scan of the store rows of the batch's names, and the append of the
fresh documents as given. DataFrame input adds the shuffle that collapses
duplicate names and one counts job over one row per document. A search
runs one job: the query embedding is folded on the driver too.
"""

from __future__ import annotations

import logging
from typing import Any, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.embedding import embed_hash
from server2_vector_search_server_spark.operators.catalog import (
    group_documents,
    list_documents as _list_documents,
)
from server2_vector_search_server_spark.operators.chunking import chunk_array
from server2_vector_search_server_spark.plans.ingest import ingest_documents
from server2_vector_search_server_spark.sources.store import ChunkStore

_log = logging.getLogger(__name__)
_UPLOAD_SCHEMA = pa.schema([("doc_name", pa.string()), ("text", pa.string())])


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
        ``sources.snapshots.SnapshotChunkStore`` (or its ref-aware
        ``BranchedSnapshotStore``) — all satisfy the same
        append/read/delete_document/is_empty contract, so every endpoint
        runs unchanged on any of them. ``delete_document`` returns a bool
        on every backend: True when a row of the document was found and
        deleted, False (with nothing written) when none was."""
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
        score garbage). The row is an inline ``VALUES`` table with the query
        as a bound parameter, so it plans as a ``LocalRelation``: Catalyst
        folds the hash default (the one-string SQL expression ``embed_hash``
        stores with) on the driver, and ``.first()`` runs no job. The vector
        is bitwise the stored chunk's of the same text; it is inlined as a
        literal into the scoring plan.
        """
        one = self.spark.sql("SELECT * FROM VALUES (:q) AS t(content)",
                             args={"q": query})
        row = self.embedder(one, text_col="content", out_col="embedding",
                            dim=self.embed_dim).first()
        return [float(x) for x in row["embedding"]]

    # -- POST /upload-document ----------------------------------------------
    def upload_documents(
        self,
        docs: DataFrame | Sequence[tuple[str, str]],
        collection_name: str = config.MASTER_COLLECTION_NAME,
        *,
        chunk_size: int = config.CHUNK_SIZE,
        chunk_overlap: int = config.CHUNK_OVERLAP,
        split_mode: str = "punct",
    ) -> list[dict[str, Any]]:
        """Ingest documents; returns per-file statuses (api_models.py:18-35).

        ``docs``: a DataFrame with (doc_name, text) columns, or a small list
        of ``(doc_name, text)`` tuples. Documents whose ``doc_name`` already
        exists in ANY collection are skipped (the global dedup gate,
        app.py:152-157); duplicate names WITHIN the batch collapse to one
        upload (the reference processes files sequentially, so its exists
        check skips the later copies — for list input the first occurrence
        wins); the rest are chunked, embedded, and appended. For list input
        the statuses come in first-occurrence order.

        Each document's chunks are counted first; the status probe is then
        the only gate, as in the reference, and the fresh documents are
        written with ``ingest_documents(..., on_conflict="append")``.
        DataFrame input is materialized once (a lazy local checkpoint that
        the counts fill), so the counts and the write see the same rows;
        the embedder must keep every row, as both shipped ones do. A null
        ``doc_name`` raises ``ValueError`` before anything is written.
        """
        seen: dict[str, str] = {}
        if isinstance(docs, DataFrame):
            docs = (docs.select("doc_name", "text")
                    .dropDuplicates(["doc_name"]).localCheckpoint(eager=False))
        else:
            for name, text in docs:
                seen.setdefault(name, text)
            # an Arrow table becomes a LocalRelation, so no scan of the batch
            # starts a Python worker (a list becomes a pickled LogicalRDD)
            docs = self.spark.createDataFrame(pa.table(
                [list(seen), list(seen.values())], schema=_UPLOAD_SCHEMA))
        # one row per document: its name and chunk count. Over a
        # LocalRelation Catalyst folds the SQL chunker on the driver: no job.
        # Null text has a null chunk array, whose size is null (ANSI) or -1
        # (legacy): 0 chunks.
        counts = {r["doc_name"]: r["n"] for r in docs.select(
            "doc_name", F.greatest(F.size(chunk_array(
                "text", chunk_size, chunk_overlap, split_mode)),
                F.lit(0)).alias("n")).collect()}
        if None in counts:
            raise ValueError("doc_name must not be null")
        # the status probe, the upload's only gate: which of the batch's
        # names are stored in ANY collection. The IN list is pushed into the
        # scan, so the one job reads only rows of those names, and collects
        # one row per stored chunk of a re-uploaded name.
        stored: set[str] = set()
        if counts and not self.store.is_empty():
            stored = {r["doc_name"] for r in self.store.read(None).where(
                F.col("doc_name").isin(list(counts))).select(
                "doc_name").collect()}
        fresh = [name for name, n in counts.items()
                 if n and name not in stored]
        if fresh:
            ingest_documents(
                self.store, docs.where(F.col("doc_name").isin(fresh)),
                collection=collection_name, chunk_size=chunk_size,
                chunk_overlap=chunk_overlap, split_mode=split_mode,
                embed_dim=self.embed_dim, embedder=self.embedder,
                on_conflict="append")
        statuses = []
        for name in seen or counts:
            if name in stored:
                statuses.append({
                    "filename": name, "status": "skipped", "chunks_added": 0,
                    "error": "Document with the same name already exists"})
            elif counts[name]:
                statuses.append({"filename": name, "status": "success",
                                 "chunks_added": counts[name], "error": None})
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
