"""End-to-end facade tests: the reference's endpoint surface
(upload / search / search_score / list-documents / documents_ui / delete)
driven exactly as a reference user would drive the HTTP API
(SURVEY.md §3.1-3.3)."""

from __future__ import annotations

import pytest

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.engine import DocumentSearchEngine

DOCS_A = [
    ("alpha.txt", "Alpha document about spark. It has two sentences."),
    ("beta.txt", "Beta text mentions vectors. Vectors are arrays. Neat."),
]
DOCS_B = [
    ("gamma.txt", "Gamma covers embeddings and search quality metrics."),
]


@pytest.fixture()
def engine(spark, tmp_path):
    eng = DocumentSearchEngine(spark, str(tmp_path / "chunks"))
    eng.upload_documents(DOCS_A, "collection_a")
    eng.upload_documents(DOCS_B, "collection_b")
    return eng


def test_upload_statuses_and_dedup_gate(engine):
    # re-uploading an existing name anywhere is skipped (app.py:152-157),
    # even into a different collection; new names succeed
    statuses = engine.upload_documents(
        [("alpha.txt", "changed content"), ("delta.txt", "Fresh one here.")],
        "collection_b")
    by_name = {s["filename"]: s for s in statuses}
    assert by_name["alpha.txt"]["status"] == "skipped"
    assert by_name["alpha.txt"]["chunks_added"] == 0
    assert by_name["delta.txt"]["status"] == "success"
    assert by_name["delta.txt"]["chunks_added"] >= 1


def test_upload_intra_batch_duplicates_and_empty_docs(engine):
    # duplicate names INSIDE one batch collapse to one upload (reference
    # processes files sequentially; its gate skips the later copy) and an
    # empty document reports an extraction error, not a bogus dedup skip
    statuses = engine.upload_documents(
        [("dup.txt", "First copy wins here."),
         ("dup.txt", "Second copy must not be written."),
         ("empty.txt", "")],
        "collection_a")
    by_name = {s["filename"]: s for s in statuses}
    assert len(statuses) == 2
    assert by_name["dup.txt"]["status"] == "success"
    assert by_name["empty.txt"]["status"] == "error"
    assert by_name["empty.txt"]["error"] == "No content extracted"
    # exactly one copy of dup.txt landed
    chunks = engine.store.read("collection_a") \
        .filter("doc_name = 'dup.txt'").collect()
    assert {r["content"] for r in chunks} == {"First copy wins here."}


def test_master_is_union_and_collections_are_pruned(engine):
    master = {r["doc_name"] for r in
              engine.list_documents("master").collect()}
    assert master == {"alpha.txt", "beta.txt", "gamma.txt"}
    only_a = {r["doc_name"] for r in
              engine.list_documents("collection_a").collect()}
    assert only_a == {"alpha.txt", "beta.txt"}


def test_search_score_contract(engine):
    # hash-embedder: identical text -> identical vector -> score exactly 1.0
    # (the frozen contract score = 1 - d², SURVEY.md §2 C2); unrelated text
    # scores ~ -1 and the 0.1 threshold (config.py:49) removes it.
    query = DOCS_A[1][1]
    res = engine.search_score(query, k=3, collection_name="master").collect()
    assert 0 < len(res) <= 3
    assert res[0]["doc_name"] == "beta.txt" and res[0]["score"] == 1.0
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= config.SIMILARITY_THRESHOLD for s in scores)
    # keywords list == keywords string joined with spaces (app.py:373,402)
    res2 = engine.search_score(query.split(" "), k=3).collect()
    assert [r["chunk_id"] for r in res2] == [r["chunk_id"] for r in res]


def test_search_k_minus_one_falls_back_to_config(engine):
    # k == -1 -> SEARCH_K (=1) (vector_store.py:141,158; config.py:46)
    assert len(engine.search("spark document", k=-1).collect()) \
        == config.SEARCH_K


def test_search_filter_and_error_degradation(engine):
    hits = engine.search(
        "anything", k=10,
        filter={"doc_name": {"$eq": "beta.txt"}}).collect()
    assert hits and all(r["doc_name"] == "beta.txt" for r in hits)
    # /search swallows engine errors to [] (vector_store.py:152-154)...
    assert engine.search("x", filter={"doc_name": {"$bogus": 1}}) \
        .count() == 0
    # ...while /search_score surfaces them (app.py:442-444)
    with pytest.raises(ValueError):
        engine.search_score("x", filter={"doc_name": {"$bogus": 1}})


def test_search_error_is_logged_once_and_counted(engine, caplog):
    """A /search error still degrades to the empty frame, but is logged
    once with its traceback and counted."""
    import logging

    from server2_vector_search_server_spark.sources.store import (
        CHUNKS_SCHEMA,
    )

    logger = "server2_vector_search_server_spark.engine"
    assert engine.search_errors == 0
    with caplog.at_level(logging.WARNING, logger=logger):
        out = engine.search("x", filter={"doc_name": {"$bogus": 1}})
    assert out.count() == 0
    assert out.columns == [f.name for f in CHUNKS_SCHEMA.fields
                           if f.name != "embedding"]
    records = [r for r in caplog.records if r.name == logger]
    assert len(records) == 1 and records[0].exc_info is not None
    assert engine.search_errors == 1
    # a search that succeeds neither logs nor counts
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        assert engine.search("spark", k=1).count() == 1
    assert not [r for r in caplog.records if r.name == logger]
    assert engine.search_errors == 1


def test_delete_cascades_globally(engine):
    doc_id = engine.list_documents("collection_a") \
        .filter("doc_name = 'alpha.txt'").first()["doc_id"]
    assert engine.delete_document(doc_id) is True
    assert engine.document_exists("alpha.txt") is False
    assert "alpha.txt" not in {
        r["doc_name"] for r in engine.list_documents("master").collect()}
    # deleting an unknown id reports not-found (app.py:487-518 -> 404)
    assert engine.delete_document("no-such-doc") is False


def test_documents_ui_rollup(engine):
    ui = {r["doc_id"]: r for r in engine.documents_ui("master").collect()}
    assert len(ui) == 3
    for r in ui.values():
        assert r["n_chunks"] == len(r["chunk_ids"]) >= 1


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_collection_search_partition_prunes(engine):
    """A specific-collection search must prune to that collection's
    partition directories at the SCAN (PartitionFilters), not filter
    post-read — the property that makes per-collection search cost
    proportional to the collection, not the store (SURVEY.md §1.3)."""
    df = engine.search_score(DOCS_A[0][1], k=3,
                             collection_name="collection_a")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(collection" in plan \
        or "PartitionFilters: [collection" in plan, plan[:2000]
    # master (union) search carries no collection partition predicate
    df_all = engine.search_score(DOCS_A[0][1], k=3)
    plan_all = df_all._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters" in plan_all:
        head = plan_all.split("PartitionFilters")[1][:80]
        assert "isnotnull(collection" not in head


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_custom_embedder_searches_with_matching_vectors(spark, tmp_path):
    """ADVICE r02: an engine built with a custom embedder must embed QUERIES
    through that same embedder. Regression: embed_query hardcoded the hash
    expression, so custom-embedded chunks were scored against hash-embedded
    queries — an exact-text query silently missed its own document."""
    from server2_vector_search_server_spark.embedding import (
        hash_embedding_expr,
    )

    def reversed_hash_embedder(df, text_col="content", out_col="embedding",
                               dim=config.TEST_EMBEDDING_DIM):
        # deterministic but DIFFERENT from embed_hash: embeds the reversed
        # text, so a hash-embedded query cannot match by accident
        return df.withColumn(
            out_col, hash_embedding_expr(f"reverse(`{text_col}`)", dim))

    eng = DocumentSearchEngine(spark, str(tmp_path / "chunks"),
                               embedder=reversed_hash_embedder)
    text = "Custom embedder parity sentence."
    eng.upload_documents([("custom.txt", text)], "collection_a")
    top = eng.search_score(text, k=1).collect()
    assert len(top) == 1 and top[0]["doc_name"] == "custom.txt"
    # identical text through identical embedder: score == 1 - d^2 ~= 1
    assert top[0]["score"] > 0.999


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_engine_runs_on_snapshot_backend(spark, tmp_path):
    """The six-endpoint facade runs unchanged on the snapshot-isolated
    store: upload → search_score → exists → delete (a version commit, not
    an in-place rewrite) → list, with history accumulating."""
    from server2_vector_search_server_spark.sources.snapshots import (
        SnapshotChunkStore,
    )

    eng = DocumentSearchEngine(spark, str(tmp_path / "snap"),
                               store_cls=SnapshotChunkStore)
    eng.upload_documents(DOCS_A, "collection_a")
    eng.upload_documents(DOCS_B, "collection_b")
    assert eng.store.document_exists("alpha.txt")
    hits = eng.search_score("spark alpha", k=3, threshold=None)
    assert hits.count() > 0
    # re-upload dedup gate works through the snapshot read path
    statuses = eng.upload_documents([("alpha.txt", "changed")],
                                    "collection_b")
    assert statuses[0]["status"] == "skipped"
    doc_id = eng.store.read(None) \
        .filter("doc_name = 'alpha.txt'").select("doc_id").first()[0]
    v_before = eng.store.current_version()
    assert eng.delete_document(doc_id)
    assert eng.store.current_version() == v_before + 1
    assert not eng.store.document_exists("alpha.txt")
    # the pre-delete snapshot still time-travels
    assert eng.store.read(None, version=v_before) \
        .filter("doc_name = 'alpha.txt'").count() > 0
