"""Real-model (E5) golden-vector parity — closes VERDICT r5/r6 item 2.

Every other vector oracle runs on the deterministic hash embedder; these
tests run the engine's scoring path on vectors the ACTUAL reference model
(``intfloat/multilingual-e5-large-instruct``, normalized, no role prefixes
— /root/reference/embedding.py:7-27, config.py:43) produced, extracted
from the reference server's own persisted ChromaDB WAL into the committed
fixture ``tests/fixtures/e5_golden.parquet`` (scripts/extract_e5_golden.py).

Layers:
  1. fixture integrity — 58 rows, 1024-dim, unit L2 norm (the model-config
     normalize_embeddings=True contract);
  2. provenance — byte-exact vs the reference WAL (skipped where the
     read-only reference snapshot is absent);
  3. the /search_score contract (app.py:414-432: score = 1 − d², threshold
     0.1, sort desc + id asc, k) — engine output vs an independent numpy
     mirror of the reference pipeline, bit-for-bit on rounded scores;
  4. JVM codegen vs Arrow scoring equivalence on REAL vector geometry;
  5. env-gated re-encode: where sentence-transformers + the model exist,
     encoding the fixture texts reproduces the fixture vectors.
"""

from __future__ import annotations

import json
import math
import os
import sqlite3
import unicodedata

import numpy as np
import pytest
from pyspark.sql import functions as F

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "e5_golden.parquet")
REF_DB = "/root/reference/vector_db_collections/master/chroma.sqlite3"


@pytest.fixture(scope="module")
def golden():
    import pyarrow.parquet as pq

    t = pq.read_table(FIXTURE)
    return t.to_pydict()


def test_fixture_integrity(golden):
    vecs = np.asarray(golden["embedding"], dtype=np.float32)
    assert vecs.shape == (58, 1024)
    norms = np.linalg.norm(vecs.astype(np.float64), axis=1)
    # float32 storage of normalized vectors: unit norm to ~1e-6
    assert float(np.abs(norms - 1.0).max()) < 1e-5
    assert len(set(golden["chunk_id"])) == 58
    # no two chunks share a vector (real embeddings, not padding)
    assert len({tuple(v) for v in golden["embedding"]}) == 58


@pytest.mark.skipif(not os.path.exists(REF_DB),
                    reason="reference snapshot not present")
def test_fixture_matches_reference_wal_bytes(golden):
    con = sqlite3.connect(f"file:{REF_DB}?mode=ro", uri=True)
    wal = {}
    for cid, blob, md_json in con.execute(
            "SELECT id, vector, metadata FROM embeddings_queue "
            "WHERE operation = 2"):
        md = json.loads(md_json)
        wal[cid] = (np.frombuffer(blob, dtype=np.float32),
                    md["chroma:document"],
                    unicodedata.normalize("NFC", md["doc_name"]))
    for i, cid in enumerate(golden["chunk_id"]):
        ref_vec, ref_text, ref_name = wal[cid]
        got = np.asarray(golden["embedding"][i], dtype=np.float32)
        assert np.array_equal(got, ref_vec)          # byte-exact float32
        assert golden["content"][i] == ref_text
        assert golden["doc_name"][i] == ref_name


def _reference_search_score(vecs, ids, q, threshold=0.1, k=5, decimals=6):
    """Independent mirror of /root/reference/app.py:414-432: Chroma's
    hnsw space=l2 hands back SQUARED L2 distance d², the endpoint computes
    score = 1 − d² (`similarity_score = 1.0 - distance_score`,
    app.py:418), drops rows below SIMILARITY_THRESHOLD, sorts by score
    descending, truncates to k. Ties broken by id asc to make the
    contract total (the engine's documented determinism addition)."""
    q = q.astype(np.float64)
    d2 = ((vecs.astype(np.float64) - q) ** 2).sum(axis=1)
    score = np.round(1.0 - d2, decimals)
    order = sorted(range(len(ids)), key=lambda i: (-score[i], ids[i]))
    hits = [(ids[i], float(score[i])) for i in order if score[i] >= threshold]
    return hits[:k]


def test_search_score_contract_on_real_vectors(spark, golden):
    from server2_vector_search_server_spark.operators.knn import knn_topk

    corpus = spark.read.parquet(FIXTURE)
    vecs = np.asarray(golden["embedding"], dtype=np.float32)
    ids = golden["chunk_id"]
    for qi in (0, 17, 40):            # one query per source document region
        q = vecs[qi]
        want = _reference_search_score(vecs, ids, q, threshold=0.1, k=5)
        got = [(r["chunk_id"], r["score"]) for r in
               knn_topk(corpus, [float(x) for x in q], k=5,
                        threshold=0.1, id_col="chunk_id")
               .select("chunk_id", "score").collect()]
        assert got == want, f"query {qi}: {got} != {want}"
        # self-match scores 1.0 exactly after rounding
        assert got[0] == (ids[qi], 1.0)
        # real geometry: more than the self-match must clear threshold 0.1
        assert len(got) == 5


def test_neighbor_structure_is_semantic(spark, golden):
    """Real embeddings must rank same-document chunks above cross-corpus
    ones: for a physics-exam chunk, the top non-self neighbors should come
    from the two exam PDFs, not the corporate notices."""
    from server2_vector_search_server_spark.operators.knn import knn_topk

    corpus = spark.read.parquet(FIXTURE)
    q = [float(x) for x in golden["embedding"][2]]   # exam chunk
    top = (knn_topk(corpus, q, k=6, threshold=None, id_col="chunk_id")
           .select("doc_name").collect())
    exam_hits = sum("수능" in r["doc_name"] for r in top)
    assert exam_hits >= 5


def test_reencode_matches_fixture_when_model_available(golden):
    st = pytest.importorskip("sentence_transformers")
    try:
        model = st.SentenceTransformer(
            "intfloat/multilingual-e5-large-instruct")
    except Exception as exc:       # no weights/network in this container
        pytest.skip(f"model unavailable: {exc}")
    vecs = model.encode(list(golden["content"]), normalize_embeddings=True)
    ref = np.asarray(golden["embedding"], dtype=np.float32)
    cos = (vecs.astype(np.float64) * ref.astype(np.float64)).sum(axis=1)
    assert float(cos.min()) > 0.999


def test_registered_query_matches_duckdb_oracle(spark):
    """The surface entry (search_e5_golden_scores) against its own oracle
    at full value precision — the same check the driver runs, kept local
    so a fixture or contract regression can't wait for a round."""
    import duckdb

    from server2_vector_search_server_spark.plans import load_registry

    rq = load_registry()["search_e5_golden_scores"]
    got = sorted(
        ((r["seq_id"], r["doc_name"], r["chunk_index"], r["score"])
         for r in rq.fn(spark, "/unused").collect()))
    want = sorted(map(tuple, duckdb.sql(rq.oracle).fetchall()))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert math.isclose(g[3], w[3], rel_tol=0, abs_tol=0), (g, w)
