"""End-to-end facade tests: the reference's endpoint surface
(upload / search / search_score / list-documents / documents_ui / delete)
driven exactly as a reference user would drive the HTTP API
(SURVEY.md §3.1-3.3)."""

from __future__ import annotations

import pytest

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.engine import DocumentSearchEngine
from server2_vector_search_server_spark.sources.snapshots import (
    BranchedSnapshotStore,
    SnapshotChunkStore,
)
from server2_vector_search_server_spark.sources.store import ChunkStore

DOCS_A = [
    ("alpha.txt", "Alpha document about spark. It has two sentences."),
    ("beta.txt", "Beta text mentions vectors. Vectors are arrays. Neat."),
]
DOCS_B = [
    ("gamma.txt", "Gamma covers embeddings and search quality metrics."),
]


STORES = [ChunkStore, SnapshotChunkStore, BranchedSnapshotStore]


@pytest.fixture()
def engine(spark, tmp_path, request):
    """Two collections of documents on a store of ``store_cls`` (indirect
    parameter; ``ChunkStore`` by default)."""
    eng = DocumentSearchEngine(spark, str(tmp_path / "chunks"),
                               store_cls=getattr(request, "param",
                                                 ChunkStore))
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


def test_list_upload_runs_in_the_jvm(engine, spark_jobs):
    """A list upload plans no Python evaluation and no pickled LogicalRDD
    input, and pays at most 2 jobs: the status probe and the append. The
    per-document counts collect is folded on the driver, the probe scans
    only the store rows of the batch's names, and the append writes the
    fresh documents as given, with no second gate and no checkpoint.
    Statuses come back in first-occurrence order."""
    from unittest import mock

    from server2_vector_search_server_spark.sources.store import ChunkStore

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is the
    # abstract base the classic and Connect frames share)
    DataFrame = type(engine.spark.range(1))
    plans = []

    def recording(owner, name, frame=lambda args: args[0]):
        orig = getattr(owner, name)

        def wrapper(*args, **kwargs):
            qe = frame(args)._jdf.queryExecution()
            plans.append((name, qe.optimizedPlan().toString(),
                          qe.executedPlan().toString()))
            return orig(*args, **kwargs)
        return wrapper

    batch = [("zeta.txt", "Zeta is new. It has two sentences."),
             ("alpha.txt", "an already stored name"),
             ("eta.txt", "Eta is new too.")]
    with mock.patch.object(DataFrame, "collect",
                           recording(DataFrame, "collect")), \
            mock.patch.object(DataFrame, "localCheckpoint",
                              recording(DataFrame, "localCheckpoint")), \
            mock.patch.object(ChunkStore, "append", recording(
                ChunkStore, "append", frame=lambda args: args[1])):
        statuses = engine.upload_documents(batch, "collection_b")
    assert [s["filename"] for s in statuses] == [n for n, _ in batch]
    assert [s["status"] for s in statuses] == ["success", "skipped",
                                               "success"]
    assert [name for name, _, _ in plans] == ["collect", "collect", "append"]
    (_, _, counts), (_, _, probe), (_, written, _) = plans
    for _, logical, physical in plans:
        assert "ArrowEvalPython" not in physical, physical
        assert "BatchEvalPython" not in physical, physical
        assert "LogicalRDD" not in logical, logical
    # the counts are folded into a LocalRelation: no scan, no job
    assert counts.startswith("LocalTableScan") and "Scan" not in \
        counts.replace("LocalTableScan", ""), counts
    # the probe pushes the batch's names into the store scan
    assert "PushedFilters: [In(doc_name, [alpha.txt,eta.txt,zeta.txt])]" \
        in probe, probe
    # the append writes the batch itself, as given: no anti-join gate
    assert "LocalRelation" in written and "Join" not in written, written

    assert spark_jobs(lambda: engine.upload_documents(
        [("theta.txt", "Theta is new."), ("alpha.txt", "stored")],
        "collection_b")) <= 2


def test_serving_job_budgets(engine, spark, spark_jobs):
    """The jobs each serving call runs, in the order a session issues them.
    Query embedding is folded on the driver (0), so each search is its
    scoring job alone. A list upload is the status probe plus the append;
    DataFrame input adds the shuffle that collapses duplicate names and the
    counts job. Listing and the UI pay the group-by's adaptive map-stage
    job besides the result."""
    def frame(rows):
        return spark.createDataFrame(rows, "doc_name string, text string")

    def delete_gamma():
        doc_id = engine.store.read(None).where(
            "doc_name = 'gamma.txt'").first()["doc_id"]
        return lambda: engine.delete_document(doc_id)

    budgets = [
        ("embed_query", lambda: engine.embed_query("spark vectors"), 0),
        ("search_score", lambda: engine.search_score(
            "spark vectors", k=3).collect(), 1),
        ("search_score filtered", lambda: engine.search_score(
            "spark vectors", k=3,
            filter={"doc_name": {"$eq": "beta.txt"}}).collect(), 1),
        ("search", lambda: engine.search("spark vectors", k=3).collect(), 1),
        ("upload list", lambda: engine.upload_documents(
            [("theta.txt", "Theta is new."), ("alpha.txt", "stored")],
            "collection_b"), 2),
        ("upload DataFrame, stored name", lambda: engine.upload_documents(
            frame([("alpha.txt", "stored")]), "collection_b"), 3),
        ("upload DataFrame", lambda: engine.upload_documents(
            frame([("iota.txt", "Iota is new."), ("beta.txt", "stored")]),
            "collection_b"), 4),
        ("delete", delete_gamma(), 3),
        ("document_exists", lambda: engine.document_exists("beta.txt"), 1),
        ("list_documents", lambda: engine.list_documents().collect(), 2),
        ("documents_ui", lambda: engine.documents_ui().collect(), 2),
    ]
    jobs = {name: spark_jobs(fn) for name, fn, _ in budgets}
    over = {name: jobs[name] for name, _, budget in budgets
            if jobs[name] > budget}
    assert not over, (over, jobs)
    assert not engine.document_exists("gamma.txt")
    assert engine.document_exists("iota.txt")


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_dataframe_upload_statuses(engine, ansi):
    """DataFrame input passes the same gate as a list: a stored name is
    skipped, null and empty text report an extraction error, a name twice
    in the batch is stored once, and each success counts exactly the
    chunks stored for it. A null name is rejected before anything is
    written. The same holds with ANSI off, where ``size`` of the null
    text's chunk array is -1, not null."""
    key = "spark.sql.ansi.enabled"
    before = engine.spark.conf.get(key)
    engine.spark.conf.set(key, ansi)
    try:
        _check_dataframe_upload_statuses(engine)
    finally:
        engine.spark.conf.set(key, before)


def _check_dataframe_upload_statuses(engine):
    batch = engine.spark.createDataFrame(
        [("alpha.txt", "changed content"), ("null.txt", None),
         ("empty.txt", ""), ("dup.txt", "One copy. Of two."),
         ("dup.txt", "The other copy."),
         ("long.txt", " ".join(["A sentence of some words."] * 60))],
        "doc_name string, text string")
    statuses = engine.upload_documents(batch, "collection_a")
    by_name = {s["filename"]: s for s in statuses}
    assert len(statuses) == len(by_name) == 5
    assert by_name["alpha.txt"]["status"] == "skipped"
    for name in ("null.txt", "empty.txt"):
        assert by_name[name]["status"] == "error"
        assert by_name[name]["error"] == "No content extracted"
    stored = {}
    for r in engine.store.read(None).collect():
        stored.setdefault(r["doc_name"], []).append(r["content"])
    assert stored["dup.txt"] in (["One copy. Of two."], ["The other copy."])
    assert len(stored["long.txt"]) > 1
    for name in ("dup.txt", "long.txt"):
        assert by_name[name]["status"] == "success"
        assert by_name[name]["chunks_added"] == len(stored[name])
    assert len(stored["alpha.txt"]) == 1      # the stored copy is untouched
    assert "null.txt" not in stored and "empty.txt" not in stored

    rows = engine.store.read(None).count()
    with pytest.raises(ValueError, match="doc_name"):
        engine.upload_documents(engine.spark.createDataFrame(
            [(None, "No name."), ("named.txt", "A name.")],
            "doc_name string, text string"), "collection_a")
    assert engine.store.read(None).count() == rows


def test_upload_counts_with_custom_embedder_and_python_chunker(spark,
                                                               tmp_path):
    """The counts are taken before the embedder runs, so they hold for a
    model embedder (a Python worker, ``mapInPandas``) and for the pandas
    UDF chunker of ``words:N``: each success counts exactly the chunks
    stored for it, for list and DataFrame input alike."""
    import functools

    import numpy as np

    from server2_vector_search_server_spark.embedding import (
        embed_with_model,
    )

    def factory():
        return lambda texts: np.array([[float(len(t)), 1.0, 0.0]
                                       for t in texts])

    eng = DocumentSearchEngine(
        spark, str(tmp_path / "chunks"), embed_dim=3,
        embedder=functools.partial(embed_with_model,
                                   encoder_factory=factory))
    text = " ".join(f"word{i}" for i in range(20))
    listed = eng.upload_documents([("a.txt", text), ("b.txt", "Short.")],
                                  "collection_a", chunk_size=30,
                                  chunk_overlap=0, split_mode="words:3")
    framed = eng.upload_documents(
        spark.createDataFrame([("c.txt", text), ("a.txt", "stored")],
                              "doc_name string, text string"),
        "collection_a", chunk_size=30, chunk_overlap=0, split_mode="words:3")
    rows = eng.store.read(None).collect()
    stored = {n: sum(r["doc_name"] == n for r in rows)
              for n in ("a.txt", "b.txt", "c.txt")}
    statuses = {s["filename"]: s for s in listed + framed
                if s["status"] == "success"}
    assert set(statuses) == set(stored)
    assert stored["a.txt"] > 1
    assert {n: s["chunks_added"] for n, s in statuses.items()} == stored
    assert all(r["embedding"][1] == 1.0 for r in rows)


def test_embed_query_equals_stored_vector(engine, spark):
    """The query vector is bitwise the vector of the one-row frame the
    embedder used before (``spark.range(1)`` with the query as a literal),
    and, where the text is stored as one chunk, bitwise the stored float
    vector of that chunk."""
    import struct

    from pyspark.sql import functions as F

    texts = ["안녕하세요 벡터 검색 엔진", "rocket 🚀 launch 🎉 party",
             "quote ' and back\\slash", " \t\n ", "",
             " ".join(f"token{i % 37}" for i in range(500))]
    single = [t for t in texts if t.strip()]
    engine.upload_documents([(f"q{i}.txt", t) for i, t in enumerate(single)],
                            "collection_a")
    stored = {r["content"]: r["embedding"] for r in
              engine.store.read(None).where(
                  F.col("doc_name").startswith("q")).collect()}
    assert set(stored) == set(single)

    def doubles(vec):
        return [struct.pack("<d", x) for x in vec]

    def floats(vec):
        return [struct.pack("<f", x) for x in vec]

    for text in texts:
        got = engine.embed_query(text)
        before = engine.embedder(
            spark.range(1).select(F.lit(text).alias("content")),
            dim=engine.embed_dim).first()["embedding"]
        assert doubles(got) == doubles(before), repr(text)
        if text in stored:
            assert floats(got) == floats(stored[text]), repr(text)


@pytest.mark.parametrize("scheme", ["viewfs", "file"])
@pytest.mark.parametrize("store_cls", STORES, ids=lambda cls: cls.__name__)
def test_store_answers_on_a_viewfs_root(spark, tmp_path, viewfs_root,
                                        py4j_calls, store_cls, scheme):
    """Every store lists, reads and removes through Hadoop, so a
    ``viewfs://`` or ``file:///`` root behaves like a local path: a
    re-upload is skipped, ``document_exists`` finds the stored name, and a
    delete removes the rows, including every row of a collection. The
    files land under the mounted directory, none under the working
    directory. ``ChunkStore.is_empty`` is one ``globStatus``."""
    import os

    root = {"viewfs": viewfs_root, "file": f"file://{tmp_path}"}[scheme]
    eng = DocumentSearchEngine(spark, f"{root}/chunks", store_cls=store_cls)
    assert eng.store.is_empty()
    eng.upload_documents(DOCS_A, "collection_a")
    eng.upload_documents(DOCS_B, "collection_b")
    assert not eng.store.is_empty()
    if store_cls is ChunkStore:
        assert (tmp_path / "chunks" / "collection=collection_b").is_dir()
        assert py4j_calls(eng.store.is_empty) <= 5
    else:
        assert (tmp_path / "chunks" / "_manifests" / "v2.json").is_file()
    assert not os.path.exists(f"{scheme}:")

    statuses = eng.upload_documents([("alpha.txt", "changed")],
                                    "collection_b")
    assert [s["status"] for s in statuses] == ["skipped"]
    assert eng.document_exists("alpha.txt")
    gamma = eng.store.read(None).where(
        "doc_name = 'gamma.txt'").first()["doc_id"]
    assert eng.delete_document(gamma)
    assert not eng.document_exists("gamma.txt")
    assert eng.store.read("collection_b").count() == 0
    if store_cls is ChunkStore:
        assert not (tmp_path / "chunks" / "collection=collection_b").exists()
    assert {r["doc_name"] for r in eng.store.read(None).collect()} == {
        "alpha.txt", "beta.txt"}


def test_delete_and_exists_job_budgets(engine, spark_jobs):
    """delete_document answers "which partitions hold the doc" and "which
    keep other rows" with one aggregate (2 jobs), then writes (1);
    document_exists is one job whether or not the name is stored."""
    doc_id = engine.list_documents("collection_a") \
        .filter("doc_name = 'alpha.txt'").first()["doc_id"]
    assert spark_jobs(lambda: engine.delete_document(doc_id)) <= 3
    assert engine.document_exists("alpha.txt") is False
    assert spark_jobs(lambda: engine.document_exists("beta.txt")) == 1
    assert spark_jobs(lambda: engine.document_exists("alpha.txt")) == 1


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


@pytest.mark.parametrize("engine", STORES, indirect=True,
                         ids=lambda cls: cls.__name__)
def test_delete_cascades_globally(engine):
    doc_id = engine.list_documents("collection_a") \
        .filter("doc_name = 'alpha.txt'").first()["doc_id"]
    assert engine.delete_document(doc_id) is True
    assert engine.document_exists("alpha.txt") is False
    assert "alpha.txt" not in {
        r["doc_name"] for r in engine.list_documents("master").collect()}
    # deleting an unknown id reports not-found (app.py:487-518 -> 404),
    # and a snapshot store commits no version for it
    versions = getattr(engine.store, "versions", list)
    before = versions()
    assert engine.delete_document("no-such-doc") is False
    assert versions() == before


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
