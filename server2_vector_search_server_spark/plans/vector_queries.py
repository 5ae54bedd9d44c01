"""Vector-search query surface (SURVEY.md §2 C1/C2, B1-B3, F1/F2).

These are the engine's re-expression of the reference's search endpoints
(``/search_score`` pipeline, ``app.py:396-444``; ``similarity_search[_with_score]``,
``vector_store.py:139-171``) over the driver's ``embeddings`` fixture.

Scale notes: the single-query plan is scan → codegen'd score → partial top-k
(``TakeOrderedAndProject``) — no shuffle of corpus rows. The multi-query plan
broadcasts the query set so the corpus is scanned once; the per-query window
shuffles only scored candidate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.functions.vector import squared_l2_sql
from server2_vector_search_server_spark.operators.knn import (
    exact_score,
    knn_join,
    knn_topk,
    vector_literal_sql,
)
from server2_vector_search_server_spark.plans.registry import (
    query,
    sql_score,
    sql_sq_l2,
    tbl,
)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    """Driver-side single-row fetch of the query vector — the Spark analog of
    the reference embedding the query string once on the driver
    (``vector_store.py:32``); it becomes a broadcast literal in the plan."""
    return (
        tbl(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
    )


_QV0 = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"


@query(
    "search_score_topk",
    survey="C1,C2,B3,F1,F2",
    oracle=f"""
    SELECT e.vec_id, e.label,
           {sql_score('e.embedding', _QV0)} AS score
    FROM embeddings e
    WHERE score >= {config.SIMILARITY_THRESHOLD}
    ORDER BY score DESC, e.vec_id ASC
    LIMIT {config.DEFAULT_API_K}
    """,
)
def search_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference ``/search_score`` end-to-end: score = 1 − d², threshold
    0.1, sort desc, top-k=5 (app.py:414-432)."""
    emb = tbl(spark, sf_dir, "embeddings")
    return knn_topk(emb, _query_vec(spark, sf_dir), k=config.DEFAULT_API_K,
                    threshold=config.SIMILARITY_THRESHOLD)


@query(
    "search_filtered_knn",
    survey="B1,B2,C2",
    oracle=f"""
    SELECT e.vec_id, e.label,
           {sql_score('e.embedding', _QV0)} AS score
    FROM embeddings e
    WHERE e.label IN (1, 2, 3) AND e.vec_id < 400
    ORDER BY score DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def search_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered k-NN: Chroma where-dialect prefilter pushed into the scan
    before scoring (vector_store.py:139-154 + the B2 dict grammar)."""
    emb = tbl(spark, sf_dir, "embeddings")
    where = {"$and": [{"label": {"$in": [1, 2, 3]}},
                      {"vec_id": {"$lt": 400}}]}
    return knn_topk(emb, _query_vec(spark, sf_dir), k=10, where=where,
                    threshold=None)


_MULTI_SCORE = sql_score("e.embedding", "q.qv")


@query(
    "search_multi_query_knn",
    survey="C1,C2,E(window)",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 8)
    SELECT q.query_id, e.vec_id, e.label,
           {_MULTI_SCORE} AS score,
           CAST(row_number() OVER (
                PARTITION BY q.query_id
                ORDER BY {_MULTI_SCORE} DESC, e.vec_id ASC) AS INTEGER) AS rank
    FROM embeddings e CROSS JOIN q
    QUALIFY rank <= 3
    """,
)
def search_multi_query_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-3 per query for 8 queries — the reference's
    one-query loop re-planned as broadcast-crossjoin + ranking window."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return knn_join(queries, emb, k=3)


@query(
    "search_unscored",
    survey="C1,F2(/search: same ranking, score withheld from the response)",
    oracle=f"""
    SELECT vec_id, label
    FROM (
      SELECT e.vec_id, e.label,
             {sql_score('e.embedding', _QV0)} AS score
      FROM embeddings e
      ORDER BY score DESC, e.vec_id ASC
      LIMIT {config.DEFAULT_API_K})
    ORDER BY vec_id
    """,
)
def search_unscored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's plain ``/search`` (app.py:367-393): identical ranking
    to /search_score but the response carries score=None (app.py:386) and no
    threshold is applied — so the engine ranks on the internal distance and
    projects the score away. (Its other quirk — vector_store.py:152-154
    swallowing errors to [] — is an HTTP-facade behavior, kept out of the
    engine: a failed plan should fail loudly in a batch system.)"""
    emb = tbl(spark, sf_dir, "embeddings")
    return (
        knn_topk(emb, _query_vec(spark, sf_dir), k=config.DEFAULT_API_K,
                 threshold=None)
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@query(
    "search_per_collection_topk",
    survey="C1/G-extension(per-collection top-k in ONE scan: the "
           "reference's N per-collection searches collapsed into a single "
           "window-ranked pass)",
    oracle="""
    SELECT label AS collection_id, vec_id,
           ROUND(1.0 - list_sum(list_transform(
               list_zip(embedding,
                        (SELECT embedding FROM embeddings WHERE vec_id = 42)),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)
             AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT label, vec_id, embedding,
             row_number() OVER (
               PARTITION BY label
               ORDER BY ROUND(1.0 - list_sum(list_transform(
                   list_zip(embedding,
                            (SELECT embedding FROM embeddings
                             WHERE vec_id = 42)),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                        * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)
                        DESC, vec_id ASC) AS rn
      FROM embeddings) t
    WHERE rn <= 3
    ORDER BY collection_id, rank
    """,
)
def search_per_collection_topk(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The reference answers 'search every collection' with N sequential
    HNSW queries (one per Chroma store, vector_store.py:24-35); here it is
    ONE scored scan window-partitioned by the segment key — rank-per-group
    is partial-aggregable (each partition computes its own top-3 before
    the exchange), so cost is one corpus pass regardless of how many
    collections exist. `label` stands in for the collection key on the
    embeddings fixture."""
    from pyspark.sql import Window

    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]
    score = exact_score(vector_literal_sql(qv), "embedding")
    w = Window.partitionBy("label").orderBy(score.desc(),
                                            F.col("vec_id").asc())
    return (emb.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select(F.col("label").alias("collection_id"), "vec_id",
                    "score", "rank")
            .orderBy("collection_id", "rank"))


_OF_K = 5
_OF_OVERFETCH = 2
_OF_COARSE_DIM = 16


@query(
    "search_overfetch_rerank",
    survey="F3",
    oracle=f"""
    WITH cand AS (
      SELECT e.vec_id, e.label, e.embedding,
             ROUND(1.0 - {sql_sq_l2(f'(e.embedding[1:{_OF_COARSE_DIM}])',
                                    f'(({_QV0})[1:{_OF_COARSE_DIM}])')}, 6)
               AS coarse_score
      FROM embeddings e
      ORDER BY coarse_score DESC, e.vec_id ASC
      LIMIT {_OF_K * _OF_OVERFETCH})
    SELECT vec_id, label, coarse_score,
           {sql_score('embedding', _QV0)} AS score
    FROM cand
    ORDER BY score DESC, vec_id ASC
    LIMIT {_OF_K}
    """,
)
def search_overfetch_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F3 (reference ``search_engine.py:23,48-51`` — the vestigial
    fetch-``2k``-then-rescore module), registered as a live funnel:
    stage 1 ranks on a 16-dim prefix score (reads 1/4 of each vector when
    the prefix is materialized; TakeOrderedAndProject partial top-k, no
    global sort), stage 2 exact-rescores only the 2k survivors. The same
    coarse→exact shape every compressed ANN tier uses, at the plain
    search-API surface the reference stubbed."""
    from server2_vector_search_server_spark.operators.knn import (
        overfetch_rerank,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    return overfetch_rerank(emb, _query_vec(spark, sf_dir), k=_OF_K,
                            overfetch=_OF_OVERFETCH,
                            coarse_dim=_OF_COARSE_DIM)


# ---------------------------------------------------------------------------
# Real-model golden fixture: the ONLY surface member that runs on vectors the
# actual reference model produced (VERDICT r5/r6: the real-model numeric path
# was untested — every other vector oracle uses the deterministic hash
# embedder). tests/fixtures/e5_golden.parquet holds 58 chunks the reference
# server itself embedded with intfloat/multilingual-e5-large-instruct
# (extracted from its persisted ChromaDB WAL by scripts/extract_e5_golden.py;
# byte-exactness vs the WAL re-verified in tests/test_e5_golden_parity.py).
# Unlike the synthetic embeddings, these are truly L2-normalized, so the
# /search_score contract produces a RICH result set (many cross-document
# scores above threshold), exercising threshold + sort + k on real geometry.

import os as _os

_E5_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))), "tests", "fixtures",
    "e5_golden.parquet")
_E5_QV = f"(SELECT embedding FROM '{_E5_FIXTURE}' WHERE seq_id = 1)"


@query(
    "search_e5_golden_scores",
    survey="C1,C2,B3,F1,F2,J1 (real-model vectors: reference /search_score "
           "contract on E5 embeddings the reference itself produced)",
    oracle=f"""
    SELECT e.seq_id, e.doc_name, e.chunk_index,
           {sql_score('e.embedding', _E5_QV)} AS score
    FROM '{_E5_FIXTURE}' e
    WHERE score >= {config.SIMILARITY_THRESHOLD}
    ORDER BY score DESC, e.chunk_id ASC
    LIMIT {config.DEFAULT_API_K}
    """,
)
def search_e5_golden_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference ``/search_score`` pipeline (app.py:414-432: score =
    1 − d², threshold 0.1, sort desc, k=5) over REAL E5 vectors — the
    committed golden fixture extracted from the reference's own persisted
    store. The query vector is the fixture's first chunk (a Korean physics
    exam page); on real normalized embeddings many semantically-near
    chunks clear the threshold, so this checks ranking among genuine
    neighbors, not just the self-match. ``sf_dir`` is unused: the fixture
    IS the scale-invariant golden corpus."""
    corpus = spark.read.parquet(_E5_FIXTURE)
    qv = (corpus.filter(F.col("seq_id") == 1)
          .select("embedding").first()[0])
    return (knn_topk(corpus, qv, k=config.DEFAULT_API_K,
                     threshold=config.SIMILARITY_THRESHOLD,
                     id_col="chunk_id")
            .select("seq_id", "doc_name", "chunk_index", "score"))


# ---------------------------------------------------------------------------
# TwoNN intrinsic-dimension estimate of the embedding space

_TNN_N = 150


@query(
    "embedding_intrinsic_dim_twonn",
    survey="embedding extension(TwoNN intrinsic-dimension estimator, "
           "Facco et al. 2017: per-point ratio of 2nd- to 1st-NN "
           "distance, MLE d = n/Σln μ — the manifold-dimension "
           "diagnostic that says how much of the ambient 64 dims the "
           "corpus actually uses; per-point ln terms exact-rounded "
           "before the sum)",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_TNN_N}),
    pairs AS (
      SELECT a.vec_id AS s, b.vec_id AS d,
             ROUND({{sq}}, 6) AS dist
      FROM vecs a CROSS JOIN vecs b WHERE a.vec_id <> b.vec_id),
    nn AS (
      SELECT s, d, dist,
             ROW_NUMBER() OVER (PARTITION BY s
                 ORDER BY dist ASC, d ASC) AS rn
      FROM pairs),
    mu AS (
      SELECT a.s,
             CAST(ROUND(0.5 * ln(b.dist / a.dist) * 1000000000) AS BIGINT)
                 AS lnmu_nano
      FROM (SELECT s, dist FROM nn WHERE rn = 1) a
      JOIN (SELECT s, dist FROM nn WHERE rn = 2) b ON b.s = a.s
      WHERE a.dist > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(lnmu_nano) AS DOUBLE) / 1000000000.0
                 / COUNT(*), 6) AS mean_ln_mu,
           ROUND(COUNT(*) * 1000000000.0 / SUM(lnmu_nano), 6)
               AS intrinsic_dim
    FROM mu
    """.replace("{sq}", sql_sq_l2("a.embedding", "b.embedding")),
)
def embedding_intrinsic_dim_twonn(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TwoNN intrinsic dimension of the embedding slice: for each point
    the ratio μ = d₂/d₁ of its two nearest-neighbor distances follows a
    Pareto(d) law on a d-dimensional manifold, giving the MLE
    d̂ = n / Σ ln μᵢ with no density assumptions beyond local
    uniformity (Facco et al. 2017) — the check on whether a 64-dim
    embedding column really spans 64 dims (PCA funnels and Matryoshka
    truncation budgets key off this).  ln μ = ½·ln(sq₂/sq₁) computes
    from the same ROUND(·,6) squared distances the kNN family pins,
    rounds to exact nano-ints per point, and sums as BIGINT.  Points
    with an exact-duplicate nearest neighbor (d₁ = 0) are excluded on
    both engines — μ is undefined there.  Scale: the exact pair stage
    is the fixture's — at corpus scale the candidate generator is the
    ANN bucketed join (knn_graph_bucketed), same downstream
    arithmetic."""
    from pyspark.sql import Window

    emb = (tbl(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < _TNN_N).select("vec_id", "embedding"))
    a = emb.select(F.col("vec_id").alias("s"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("d"),
                   F.col("embedding").alias("vb"))
    pairs = (a.crossJoin(b).filter(F.col("s") != F.col("d"))
             .select("s", "d", F.expr(
                 f"round({squared_l2_sql('va', 'vb')}, 6)").alias("dist")))
    w = Window.partitionBy("s").orderBy(F.col("dist").asc(),
                                        F.col("d").asc())
    nn = (pairs.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= 2))
    d1 = (nn.filter(F.col("rn") == 1)
          .select("s", F.col("dist").alias("dist1")))
    d2 = (nn.filter(F.col("rn") == 2)
          .select("s", F.col("dist").alias("dist2")))
    mu = (d1.join(d2, "s").filter(F.col("dist1") > 0)
          .select(F.round(0.5 * F.log(F.col("dist2") / F.col("dist1"))
                          * 1_000_000_000).cast("long")
                  .alias("lnmu_nano")))
    return mu.agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(F.sum("lnmu_nano").cast("double") / 1_000_000_000.0
                / F.count("*"), 6).alias("mean_ln_mu"),
        F.round(F.count("*") * 1_000_000_000.0 / F.sum("lnmu_nano"), 6)
        .alias("intrinsic_dim"))
