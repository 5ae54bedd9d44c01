"""Embedding tests (SURVEY.md §2 J1/J2): determinism, normalization, and the
mapInPandas model-path plumbing with a fake encoder."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from server2_vector_search_server_spark.embedding import (
    embed_hash,
    embed_with_model,
    hash_embedding_expr,
)
from server2_vector_search_server_spark.functions.vector import dot_sql


def _d(c):
    return c.cast("double")


def frozen_hash_embedding(text, dim):
    """The per-dimension Column form the library shipped before the
    one-string SQL form: the spec every stored vector and oracle was built
    against. Kept here, frozen, so the library's form is pinned to it
    bit-for-bit; do not edit."""
    tokens = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    raw = F.array(*[
        F.aggregate(
            F.transform(tokens,
                        lambda t: F.sin(F.xxhash64(t) * F.lit(float(i + 1)))),
            F.lit(0.0), lambda acc, x: acc + x)
        for i in range(dim)
    ])
    n = F.sqrt(F.aggregate(F.transform(raw, lambda x: _d(x) * _d(x)),
                           F.lit(0.0), lambda acc, x: acc + x))
    return F.when(n == 0.0, F.transform(raw, lambda x: _d(x))) \
        .otherwise(F.transform(raw, lambda x: _d(x) / n))


PIN_TEXTS = [
    "spark vector search",
    "Alpha document about spark. It has two sentences.",
    "",
    "   ",
    "\t\n ",
    "안녕하세요 벡터 검색 엔진",
    "naïve café — déjà vu",
    "tab\tseparated\nnew  line\r\nwords",
    "repeat repeat repeat",
    " ".join(f"token{i % 37}" for i in range(250)),
    None,
]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(1, "spark vector search"), (2, "spark vector search"),
         (3, "a completely different sentence"), (4, "")],
        "id long, content string")


def test_hash_embedding_deterministic_and_normalized(texts):
    out = embed_hash(texts, dim=16).withColumn(
        "norm", F.sqrt(F.expr(dot_sql("embedding", "embedding")))).collect()
    by_id = {r["id"]: r for r in out}
    # determinism: same text → identical vector
    assert by_id[1]["embedding"] == by_id[2]["embedding"]
    # different text → different vector
    assert by_id[1]["embedding"] != by_id[3]["embedding"]
    # unit norm (config.py:43 analog)
    for i in (1, 2, 3):
        assert math.isclose(by_id[i]["norm"], 1.0, abs_tol=1e-9)
    assert len(by_id[1]["embedding"]) == 16


def test_hash_embedding_empty_text_is_zero_vector(texts):
    row = embed_hash(texts, dim=8).filter(F.col("id") == 4).first()
    assert all(v == 0.0 for v in row["embedding"])   # guarded normalize


@pytest.mark.parametrize("dim", [8, 16, 64])
def test_hash_embedding_bitwise_matches_frozen_spec(spark, dim):
    """The one-string SQL form must yield bitwise the same doubles as the
    frozen per-dimension spec: empty, whitespace-only, non-ASCII,
    tab/newline-separated, >200-token and null texts included."""
    import struct

    df = spark.createDataFrame(list(enumerate(PIN_TEXTS)),
                               "id long, content string")
    rows = embed_hash(df, dim=dim).select(
        "id",
        frozen_hash_embedding(F.col("content"), dim).alias("spec"),
        hash_embedding_expr("content", dim).alias("lib"),
        F.col("embedding").alias("ingest"),
    ).collect()
    assert len(rows) == len(PIN_TEXTS)

    def bits(vec):
        return [None if x is None else struct.pack("<d", x) for x in vec]

    for r in rows:
        assert len(r["spec"]) == dim, PIN_TEXTS[r["id"]]
        assert bits(r["lib"]) == bits(r["spec"]), PIN_TEXTS[r["id"]]
        assert bits(r["ingest"]) == bits(r["spec"]), PIN_TEXTS[r["id"]]


def test_query_embed_and_search_build_py4j_budget(spark, tmp_path,
                                                  py4j_calls):
    """Plan-build cost guard: embedding one query and building the
    /search_score plan each stay within a fixed budget of py4j round
    trips, so per-lambda Column building cannot creep back into the
    serving path (the per-dimension embedding cost ~7k round trips; the
    inline ``VALUES`` row costs 27)."""
    from server2_vector_search_server_spark.engine import (
        DocumentSearchEngine,
    )
    from server2_vector_search_server_spark.plans.ingest import search_store

    eng = DocumentSearchEngine(spark, str(tmp_path / "chunks"))
    text = "Budget test text. Two sentences."
    eng.upload_documents([("a.txt", text)])
    qvec = eng.embed_query(text)
    assert 0 < py4j_calls(lambda: eng.embed_query(text)) <= 40
    assert 0 < py4j_calls(lambda: search_store(eng.store, qvec, k=5)) <= 150
    # the budgeted build is the real one: the chunk matches itself
    hits = search_store(eng.store, qvec, k=5).collect()
    assert [h["content"] for h in hits] == [text]
    assert hits[0]["score"] == 1.0


def test_model_path_plumbing_with_fake_encoder(texts):
    """The mapInPandas production path, exercised with a deterministic fake
    (the real model is absent by design — embedding.py stub)."""
    import numpy as np

    def factory():
        def encode(batch):
            return np.array([[float(len(t)), 1.0, 0.0] for t in batch])
        return encode

    out = embed_with_model(texts, dim=3, encoder_factory=factory).collect()
    by_id = {r["id"]: r["embedding"] for r in out}
    assert by_id[1] == [len("spark vector search"), 1.0, 0.0]
    assert by_id[4] == [0.0, 1.0, 0.0]
    assert set(by_id) == {1, 2, 3, 4}


def test_model_path_without_lib_raises_not_implemented(texts):
    try:
        import sentence_transformers  # noqa: F401

        pytest.skip("sentence-transformers present")
    except ImportError:
        pass
    with pytest.raises(Exception) as exc_info:
        embed_with_model(texts).collect()
    assert "NotImplementedError" in str(exc_info.value) or \
        isinstance(exc_info.value, NotImplementedError)


def test_embed_with_model_real_backend_smoke(spark):
    """J1 production path: one executed run against a real (tiny)
    sentence-transformers model when the library is installed; skipped — not
    faked — otherwise. Pins the contract the fake-encoder tests assume:
    ArrayType(Float) column, model dimensionality, L2-normalized rows."""
    import math

    import pytest

    pytest.importorskip("sentence_transformers")
    from server2_vector_search_server_spark.embedding import embed_with_model

    df = spark.createDataFrame(
        [("hello world",), ("안녕하세요",)], "content string")
    rows = (embed_with_model(
                df, model_name="sentence-transformers/all-MiniLM-L6-v2",
                dim=384)
            .select("embedding").collect())
    assert len(rows) == 2
    for r in rows:
        vec = r["embedding"]
        assert len(vec) == 384
        assert math.isclose(sum(x * x for x in vec), 1.0, rel_tol=1e-3)
