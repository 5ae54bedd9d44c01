"""Chunk store + ingestion pipeline tests (SURVEY.md §3.1, §5.4 properties).

Covers: A5 partitioned append, A7 pruned scans, master==union (G), B4/B5
existence, A8 delete-with-cascade-semantics, C3 idempotent re-upload, and the
end-to-end /search_score over ingested chunks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.plans.ingest import (
    ingest_documents,
    search_store,
)
from server2_vector_search_server_spark.sources.store import ChunkStore

DOCS = [
    ("alpha.txt", "alpha one. alpha two. alpha three. alpha four."),
    ("beta.txt", "beta uno. beta dos. beta tres."),
    ("gamma.txt", "gamma first sentence. gamma second sentence."),
]


@pytest.fixture()
def store(spark, tmp_path):
    return ChunkStore(spark, str(tmp_path / "chunks"))


def _ingest(spark, store, docs=DOCS, collection="collection_a", **kw):
    df = spark.createDataFrame(docs, "doc_name string, text string")
    return ingest_documents(store, df, collection=collection,
                            chunk_size=30, chunk_overlap=10, **kw)


def test_ingest_and_partitioned_layout(spark, store):
    _ingest(spark, store)
    table = store.read(None)
    assert table.count() > 0
    assert {r["collection"] for r in
            table.select("collection").distinct().collect()} == {"collection_a"}
    # chunk ids deterministic + unique
    assert table.select("chunk_id").distinct().count() == table.count()


def test_master_is_union_of_collections(spark, store):
    _ingest(spark, store, docs=DOCS[:2], collection="collection_a")
    _ingest(spark, store, docs=DOCS[2:], collection="collection_b")
    total = store.read(None).count()
    a = store.read("collection_a").count()
    b = store.read("collection_b").count()
    assert total == a + b                      # G invariant
    assert store.read("master").count() == total
    # partition pruning visible in the plan
    plan = store.read("collection_a")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan


def test_existence_probes(spark, store):
    _ingest(spark, store, collection="collection_a")
    assert store.document_exists("alpha.txt")                    # B5 global
    assert store.document_exists("alpha.txt", "collection_a")    # B4
    assert not store.document_exists("alpha.txt", "collection_b")
    assert not store.document_exists("nope.txt")


def test_reupload_is_skipped(spark, store):
    """C3/§5.4: uploading twice == uploading once (dedup gate on doc_name)."""
    _ingest(spark, store)
    before = store.read(None).count()
    written = _ingest(spark, store)     # same names again
    assert written.count() == 0
    assert store.read(None).count() == before


def test_append_writes_the_batch_as_given(spark, store, spark_jobs):
    """on_conflict='append' has no gate: a stored name is written again,
    and the whole ingest is the one write job (no anti-join, no
    checkpoint). The returned rows are the rows written."""
    _ingest(spark, store)
    before = store.read(None).where("doc_name = 'alpha.txt'").count()
    batch = [("alpha.txt", "alpha again."), ("delta.txt", "delta one.")]
    written = []
    assert spark_jobs(lambda: written.append(_ingest(
        spark, store, docs=batch, on_conflict="append"))) == 1
    rows = store.read(None)
    assert rows.where("doc_name = 'alpha.txt'").count() == before + 1
    assert sorted(r["content"] for r in written[0].collect()) == [
        "alpha again.", "delta one."]
    assert rows.where("doc_name = 'delta.txt'").count() == 1


def test_unknown_on_conflict_rejected(spark, store):
    with pytest.raises(ValueError, match="on_conflict"):
        _ingest(spark, store, on_conflict="merge")


def test_upsert_replaces_existing_chunks(spark, store):
    """A5/WAL-upsert: on_conflict='replace' swaps a document's chunks in
    place (no stale chunks, no duplicate ids) and leaves others alone."""
    _ingest(spark, store)
    before_beta = {r["content"] for r in store.read(None)
                   .filter(F.col("doc_name") == "beta.txt").collect()}
    new_docs = [("alpha.txt", "ALPHA REWRITTEN ONE. ALPHA REWRITTEN TWO."),
                ("delta.txt", "delta new doc. with two sentences.")]
    _ingest(spark, store, docs=new_docs, on_conflict="replace")
    table = store.read(None)
    assert table.select("chunk_id").distinct().count() == table.count()
    alpha = [r["content"] for r in
             table.filter(F.col("doc_name") == "alpha.txt").collect()]
    assert alpha and all("REWRITTEN" in c for c in alpha)
    assert {r["doc_name"] for r in
            table.select("doc_name").distinct().collect()} == {
                "alpha.txt", "beta.txt", "gamma.txt", "delta.txt"}
    after_beta = {r["content"] for r in
                  table.filter(F.col("doc_name") == "beta.txt").collect()}
    assert after_beta == before_beta


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_upsert_cross_collection_cascade(spark, store):
    """Upsert removes the doc's chunks in OTHER collections too (the same
    scope as delete's cascade) — no orphaned stale copy under master."""
    _ingest(spark, store, docs=DOCS[:1], collection="collection_a")
    _ingest(spark, store, docs=DOCS[1:], collection="collection_b")
    new_docs = [("alpha.txt", "alpha moved. now in collection b.")]
    _ingest(spark, store, docs=new_docs, collection="collection_b",
            on_conflict="replace")
    table = store.read(None)
    alpha = table.filter(F.col("doc_name") == "alpha.txt")
    assert {r["collection"] for r in
            alpha.select("collection").distinct().collect()} == {
                "collection_b"}
    contents = [r["content"] for r in alpha.collect()]
    assert any("moved" in c for c in contents)
    assert not any("alpha one" in c for c in contents)   # old chunks gone


def test_delete_document_cascades(spark, store):
    """A8/§5.4: delete-then-search excludes the doc everywhere."""
    _ingest(spark, store, docs=DOCS[:2], collection="collection_a")
    _ingest(spark, store, docs=DOCS[2:], collection="collection_b")
    doc_id = store.read(None).filter(F.col("doc_name") == "alpha.txt") \
        .select("doc_id").first()[0]
    assert store.delete_document(doc_id)
    remaining = store.read(None)
    assert remaining.filter(F.col("doc_name") == "alpha.txt").count() == 0
    # other docs and collections untouched
    assert remaining.filter(F.col("doc_name") == "beta.txt").count() > 0
    assert remaining.filter(F.col("doc_name") == "gamma.txt").count() > 0
    assert not store.delete_document("no-such-id")


def test_delete_last_doc_empties_partition(spark, store):
    """Dynamic overwrite cannot write an EMPTY partition — deleting the only
    doc in a collection must still remove its stale files (regression for
    the empty-survivor-set case)."""
    _ingest(spark, store, docs=DOCS[:1], collection="collection_a")
    _ingest(spark, store, docs=DOCS[1:], collection="collection_b")
    doc_id = store.read(None).filter(F.col("doc_name") == "alpha.txt") \
        .select("doc_id").first()[0]
    assert store.delete_document(doc_id)
    remaining = store.read(None)
    assert remaining.filter(F.col("collection") == "collection_a").count() == 0
    assert remaining.filter(F.col("doc_name") == "alpha.txt").count() == 0
    assert remaining.count() > 0


def test_search_over_ingested_chunks(spark, store):
    _ingest(spark, store)
    # query with the exact text of an existing chunk → hash-embed self-match
    some = store.read(None).select("content").first()[0]
    from server2_vector_search_server_spark.embedding import hash_embedding_expr

    qvec = spark.range(1).select(F.lit(some).alias("q")).select(
        hash_embedding_expr("q")).first()[0]
    hits = search_store(store, qvec, k=3).collect()
    assert hits, "self-match must survive the 0.1 threshold"
    assert hits[0]["content"] == some
    assert abs(hits[0]["score"] - 1.0) < 1e-4


def test_chunk_metadata_contract(spark, store):
    """Enriched keys the reference guarantees (document_processor.py:141-150)."""
    _ingest(spark, store)
    row = store.read(None).filter(F.col("chunk_index") == 0).first()
    assert row["doc_id"] and row["chunk_id"] and row["doc_name"]
    assert row["original_collection"] == "collection_a"
    assert row["metadata"]["source"] == row["doc_name"]
    assert row["embedding"] is not None and len(row["embedding"]) == \
        config.TEST_EMBEDDING_DIM


def test_invalid_collection_rejected(spark, store):
    with pytest.raises(ValueError):
        _ingest(spark, store, collection="not_a_collection")


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_store_compact_reduces_files_preserves_rows(spark, tmp_path):
    """Many small appends fragment the store; compact() folds them into a
    bounded file count with identical content."""
    import glob

    from server2_vector_search_server_spark.plans.ingest import (
        ingest_documents,
    )
    from server2_vector_search_server_spark.sources.store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "store"))
    for i in range(5):     # 5 append batches -> >=5 files in the partition
        docs = spark.createDataFrame(
            [(f"doc_{i}_{j}", f"text number {i} {j} for compaction test")
             for j in range(4)],
            "doc_name string, text string")
        ingest_documents(store, docs, collection="collection_a")
    before_rows = sorted(
        (r["chunk_id"], r["content"]) for r in store.read(None).collect())
    files_before = glob.glob(str(tmp_path / "store" / "collection=*" / "*.parquet"))
    assert len(files_before) >= 5

    store.compact(rows_per_file=1_000_000)     # everything into one file/task
    files_after = glob.glob(str(tmp_path / "store" / "collection=*" / "*.parquet"))
    assert len(files_after) < len(files_before)
    after_rows = sorted(
        (r["chunk_id"], r["content"]) for r in store.read(None).collect())
    assert after_rows == before_rows


def test_apply_cdc_log_semantics(spark):
    """Last-writer-wins across all four paths, plus the seq-tie rule
    (op DESC: an equal-seq upsert beats the delete)."""
    from pyspark.sql import functions as F
    from server2_vector_search_server_spark.sources.store import (
        apply_cdc_log,
    )

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], ["k", "v"])
    log = spark.createDataFrame(
        [(1, 1, "U", 11.0), (1, 2, "D", 0.0),      # delete wins at tail
         (2, 1, "D", 0.0), (2, 2, "U", 22.0),      # resurrect after delete
         (3, 5, "U", 33.0), (3, 5, "D", 0.0),      # tie -> 'U' > 'D'
         (9, 1, "I", 90.0)],                       # log-only insert
        ["k", "seq", "op", "v"])
    out = {r["k"]: (r["v"], r["row_source"])
           for r in apply_cdc_log(base, log, key_col="k",
                                  seq_col="seq").collect()}
    assert 1 not in out
    assert out[2] == (22.0, "cdc")
    assert out[3] == (33.0, "cdc")
    assert out[4] == (40.0, "base")
    assert out[9] == (90.0, "cdc")


def test_apply_cdc_log_map_payload_resolves(spark):
    """ADVICE r6: the xxhash64 tie-break must survive MapType payload
    columns — a CDC log over the store's own CHUNKS schema carries
    metadata map<string,string>, and Spark rejects hash functions on maps
    at analysis time; the to_json canonicalization dodges that. Also
    pins that the residual tie (same key, seq AND op) still resolves
    deterministically."""
    from server2_vector_search_server_spark.sources.store import (
        apply_cdc_log,
    )

    base = spark.createDataFrame(
        [(1, "a", {"m": "x"})],
        "k int, content string, metadata map<string,string>")
    log = spark.createDataFrame(
        [(1, 1, "U", "b", {"m": "y"}),
         (1, 1, "U", "c", {"m": "z"}),      # full tie: hash breaks it
         (2, 1, "I", "d", {"m": "w"})],
        "k int, seq int, op string, content string, "
        "metadata map<string,string>")
    out1 = {r["k"]: (r["content"], dict(r["metadata"]))
            for r in apply_cdc_log(base, log, key_col="k",
                                   seq_col="seq").collect()}
    assert out1[2] == ("d", {"m": "w"})
    assert out1[1][0] in {"b", "c"}
    # determinism: repartitioning the log must not change the survivor
    out2 = {r["k"]: (r["content"], dict(r["metadata"]))
            for r in apply_cdc_log(base, log.repartition(7), key_col="k",
                                   seq_col="seq").collect()}
    assert out1 == out2
