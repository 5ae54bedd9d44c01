"""ANN query surface (BASELINE.json north star: similarity search with a
brute-force baseline and bucketed/indexed scale paths).

Deterministic anchors: hyperplanes and IVF centroids are corpus vectors
(vec_id < n), fetched as scalar subqueries in the oracle and driver-side
collects in Spark — identical values on both engines, so bucket assignments
and probe choices match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.functions.vector import squared_l2_sql
from server2_vector_search_server_spark.operators import ann
from server2_vector_search_server_spark.operators.knn import (
    exact_score,
    score_sql,
    vector_literal_sql,
    vectors_literal_sql,
)
from server2_vector_search_server_spark.plans.registry import (
    scratch_dir,
    state_partitions,
    REGISTRY,
    query,
    sql_dot,
    sql_l2_norm,
    sql_sq_l2,
    tbl,
)

_N_HYPER = 6          # 6 hyperplanes → 64 buckets
_QUERY_ID = 42        # query vector = embeddings[42]
_N_CENTROIDS = 8
_NPROBE = 2

# Session-level memo for deterministic build artifacts (materialized index
# directories, trained PQ codebooks): see registry.build_memo — an index is
# a LAYOUT of immutable input, so repeated calls in one process pay the
# build once and measure the SERVE path, which is what a materialized-index
# query is for. A fresh process (the driver's correctness run) rebuilds.
from server2_vector_search_server_spark.plans.registry import (  # noqa: E402
    build_memo as _memo,
)


def _vec(spark, sf_dir, vec_id):
    return (tbl(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id).select("embedding").first()[0])


def _sql_qv(vec_id: int) -> str:
    return f"(SELECT embedding FROM embeddings WHERE vec_id = {vec_id})"


def _sql_bucket(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN {sql_dot(vec_expr, _sql_qv(i))} > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_N_HYPER)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "ann_hyperplane_knn",
    survey="north-star ANN (sign-LSH bucketed kNN)",
    oracle=f"""
    WITH scored AS (
      SELECT e.vec_id, e.label,
             ROUND(1.0 - {sql_sq_l2('e.embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score
      FROM embeddings e
      WHERE {_sql_bucket('e.embedding')} =
            {_sql_bucket(_sql_qv(_QUERY_ID))})
    SELECT vec_id, label, score FROM scored
    ORDER BY score DESC, vec_id ASC LIMIT 5
    """,
)
def ann_hyperplane_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    hyperplanes = [r["embedding"] for r in
                   emb.filter(F.col("vec_id") < _N_HYPER)
                   .orderBy("vec_id").collect()]
    return ann.hyperplane_knn(emb, _vec(spark, sf_dir, _QUERY_ID),
                              hyperplanes, k=5).drop("bucket")


@query(
    "ann_ivf_knn",
    survey="north-star ANN (IVF coarse-quantized kNN)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC, centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1)
    SELECT a.vec_id, a.label, a.centroid_id,
           ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM assigned a
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id ASC LIMIT 5
    """,
)
def ann_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    return ann.ivf_knn(emb, centroids, _vec(spark, sf_dir, _QUERY_ID),
                       k=5, nprobe=_NPROBE)


_N_FLIPS = 2


@query(
    "ann_hyperplane_multiprobe_knn",
    survey="north-star ANN (multi-probe sign-LSH: flip lowest-margin bits)",
    oracle=f"""
    WITH margins AS (
      SELECT vec_id AS i,
             abs({sql_dot(_sql_qv(_QUERY_ID), 'embedding')}) AS m
      FROM embeddings WHERE vec_id < {_N_HYPER}),
    flips AS (SELECT i FROM margins ORDER BY m ASC, i ASC LIMIT {_N_FLIPS}),
    probes AS (
      SELECT {_sql_bucket(_sql_qv(_QUERY_ID))} AS b
      UNION ALL
      SELECT xor({_sql_bucket(_sql_qv(_QUERY_ID))}, CAST(1 << i AS BIGINT))
      FROM flips),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(1.0 - {sql_sq_l2('e.embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score
      FROM embeddings e
      WHERE {_sql_bucket('e.embedding')} IN (SELECT b FROM probes))
    SELECT vec_id, label, score FROM scored
    ORDER BY score DESC, vec_id ASC LIMIT 5
    """,
)
def ann_hyperplane_multiprobe_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: probe the base bucket plus the buckets across
    the query's two closest hyperplanes (smallest |margin|) — the classic
    recall recovery for LSH at a bounded extra scan cost."""
    emb = tbl(spark, sf_dir, "embeddings")
    hyperplanes = [r["embedding"] for r in
                   emb.filter(F.col("vec_id") < _N_HYPER)
                   .orderBy("vec_id").collect()]
    return ann.hyperplane_knn(emb, _vec(spark, sf_dir, _QUERY_ID),
                              hyperplanes, k=5,
                              n_probe_flips=_N_FLIPS).drop("bucket")


def _exact_topk_ids(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Exact top-k ids for the canonical query — the truth side of the
    MLlib-tier invariant checks (one bounded brute-force pass)."""
    emb = tbl(spark, sf_dir, "embeddings")
    s = exact_score(vector_literal_sql(_vec(spark, sf_dir, _QUERY_ID)),
                    "embedding")
    return (emb.select("vec_id", s.alias("_s"))
            .orderBy(F.col("_s").desc(), F.col("vec_id").asc())
            .limit(k).select("vec_id"))


@query(
    "ann_mllib_brp_knn",
    survey="north-star ANN (MLlib BucketedRandomProjectionLSH, pinned by "
           "hash-checked invariants: self-hit at distance 0, exact "
           "reported distances, recall@5 floor)",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_rows, TRUE AS top1_is_self,
           TRUE AS dists_exact, TRUE AS recall_ge_06
    """,
)
def ann_mllib_brp_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BRP-LSH kNN. The hash family isn't SQL-reproducible, so the
    checked contract is the invariant set (VERDICT r4 item 5): k rows come
    back; the query's own vector is rank 1 at distance 0 (identical
    vectors share every bucket, so the self-hit is deterministic); every
    reported distCol equals the exact L2 recomputed from the corpus
    (approxNearestNeighbors reports TRUE distances — only candidate
    generation is approximate); recall@5 vs exact ≥ 0.6 (measured 1.0 at
    both fixture SFs)."""
    emb = tbl(spark, sf_dir, "embeddings")
    out = (ann.mllib_brp_ann(emb, _vec(spark, sf_dir, _QUERY_ID), k=5)
           .select("vec_id", F.round("distCol", 6).alias("l2_dist"))
           .localCheckpoint(eager=True))
    exact = _exact_topk_ids(spark, sf_dir, 5)
    checked = (out.join(emb.select("vec_id", "embedding"), "vec_id")
               .join(_vec_df(spark, sf_dir), how="cross")
               .withColumn("_true", F.expr(
                   f"round(sqrt({squared_l2_sql('embedding', '_qv')}), 6)")))
    top1 = out.orderBy("l2_dist", "vec_id").first()
    return checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(top1["vec_id"] == _QUERY_ID
              and top1["l2_dist"] == 0.0).alias("top1_is_self"),
        (F.max(F.abs(F.col("l2_dist") - F.col("_true"))) < 1e-5)
        .alias("dists_exact"),
        F.lit(out.join(exact, "vec_id").count() >= 3).alias("recall_ge_06"))


def _vec_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (tbl(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == _QUERY_ID)
            .select(F.col("embedding").alias("_qv")))


_SJ_N = 200
_SJ_THRESHOLD = 1.0


@query(
    "ann_mllib_similarity_join",
    survey="north-star ANN (MLlib approxSimilarityJoin all-pairs over a "
           "planted-duplicate corpus, pinned by hash-checked invariants: "
           "exact pair count, exact-precision, planted recall 1.0)",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_SJ_N}
      UNION ALL
      SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings
      WHERE vec_id < {_SJ_N}),
    ex AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
      WHERE sqrt({sql_sq_l2('a.embedding', 'b.embedding')})
            <= {_SJ_THRESHOLD})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS all_within_threshold,
           TRUE AS planted_all_found,
           TRUE AS recall_ge_08
    FROM ex
    """,
)
def ann_mllib_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib approxSimilarityJoin over the planted-duplicate corpus
    (originals ∪ +20000 exact copies). Checked invariants (VERDICT r4
    item 5): ``n_exact`` — the true threshold-pair count — is reproduced
    bit-for-bit by the SQL twin; every returned pair's recomputed L2 is
    within threshold (the join reports true distances, so precision is
    exact by construction); all 200 planted distance-0 pairs are found
    (identical vectors collide in every hash table — deterministic); and
    recall over ALL exact pairs ≥ 0.8 (borderline near-threshold pairs
    may legitimately miss buckets). The quadratic truth join is the
    bounded verification primitive, as in dedup_cosine_lsh_quality_eval."""
    emb = (tbl(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < _SJ_N).select("vec_id", "embedding"))
    both = emb.select(
        F.explode(F.array(F.col("vec_id"),
                          F.col("vec_id") + 20000)).alias("vec_id"),
        "embedding")
    got = (ann.mllib_similarity_join(both, both, threshold_l2=_SJ_THRESHOLD)
           .select("id_a", "id_b", "l2_dist").localCheckpoint(eager=True))
    a = both.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("_ea"))
    b = both.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("_eb"))
    exact = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("_d", F.expr(
                 f"sqrt({squared_l2_sql('_ea', '_eb')})"))
             .filter(F.col("_d") <= _SJ_THRESHOLD)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    n_exact = exact.count()
    n_hits = got.select("id_a", "id_b").join(exact, ["id_a", "id_b"]).count()
    n_planted = (got.filter(F.col("id_b") == F.col("id_a") + 20000)
                 .filter(F.col("id_a") < _SJ_N).count())
    bad = got.filter(F.col("l2_dist") > _SJ_THRESHOLD + 1e-9).count()
    return spark.createDataFrame(
        [(n_exact, bad == 0, n_planted == _SJ_N,
          n_hits >= 0.8 * n_exact)],
        "n_exact long, all_within_threshold boolean, "
        "planted_all_found boolean, recall_ge_08 boolean")


@query(
    "ann_ivf_kmeans_knn",
    survey="north-star ANN (MLlib KMeans-trained IVF coarse quantizer, "
           "pinned by hash-checked invariants: self-hit at score 1, exact "
           "rescore, recall@5 floor)",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_rows, TRUE AS top1_is_self,
           TRUE AS scores_exact, TRUE AS recall_ge_04
    """,
)
def ann_ivf_kmeans_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with a FITTED coarse quantizer: MLlib KMeans centroids
    (seeded, deterministic per Spark version) instead of sampled corpus
    vectors. k-means|| init isn't SQL-reproducible, so the checked
    contract is the invariant set (VERDICT r4 item 5): the query's own
    vector is rank 1 at score 1.0 (its cell is by definition the nearest
    centroid, so the self-hit survives any fitted codebook); every
    returned score equals the exact 1−d² recomputed from the corpus (the
    probe path rescores exactly); recall@5 vs global exact ≥ 0.4
    (measured 0.6 at both fixture SFs — the rest is the nprobe=2 tax the
    SQL-checked ann_ivf_recall_at_k quantifies)."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = ann.ivf_train_kmeans(emb, n_centroids=_N_CENTROIDS)
    out = (ann.ivf_knn(emb, centroids, _vec(spark, sf_dir, _QUERY_ID),
                       k=5, nprobe=_NPROBE).localCheckpoint(eager=True))
    exact = _exact_topk_ids(spark, sf_dir, 5)
    top1 = out.orderBy(F.col("score").desc(), "vec_id").first()
    checked = (out.join(tbl(spark, sf_dir, "embeddings")
                        .select("vec_id", "embedding"), "vec_id")
               .join(_vec_df(spark, sf_dir), how="cross")
               .withColumn("_true", exact_score("_qv", "embedding")))
    return checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(top1["vec_id"] == _QUERY_ID
              and top1["score"] == 1.0).alias("top1_is_self"),
        (F.max(F.abs(F.col("score") - F.col("_true"))) < 1e-9)
        .alias("scores_exact"),
        F.lit(out.join(exact, "vec_id").count() >= 2).alias("recall_ge_04"))


_IVF_ORACLE = REGISTRY["ann_ivf_knn"].oracle


@query(
    "ann_ivf_indexed_knn",
    survey="north-star ANN (materialized IVF index: partitioned write + "
           "partition-pruned probe scan)",
    oracle=_IVF_ORACLE,
)
def ann_ivf_indexed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_knn over a MATERIALIZED index: corpus written partitionBy(cell),
    probe scan prunes to nprobe partition directories (PartitionFilters in
    the plan — asserted in tests). Same oracle as ann_ivf_knn: the index is
    a physical layout change, not a semantic one. Build memoized per
    session (``_memo``): the index is a deterministic layout of immutable
    input, so repeated calls measure serving."""

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))

    def _build() -> str:
        path = scratch_dir("ivf_index_")
        ann.write_ivf_index(emb, centroids, path)
        return path

    path = _memo(("ivf_index", sf_dir), _build)
    return ann.ivf_knn_indexed(spark, path, centroids,
                               _vec(spark, sf_dir, _QUERY_ID),
                               k=5, nprobe=_NPROBE)


_SQL_SCALE = ("127.0 / greatest(list_max(list_transform(embedding, "
              "x -> abs(CAST(x AS DOUBLE)))), 1e-30)")
_SQL_DEQUANT = ("list_transform(embedding, x -> "
                "CAST(CAST(ROUND(CAST(x AS DOUBLE) * s) AS INTEGER) AS DOUBLE)"
                " / s)")


@query(
    "ann_sq8_knn",
    survey="north-star ANN (int8 scalar quantization: rank compressed, "
           "rescore exact)",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id, label, embedding, {_SQL_SCALE} AS s
      FROM embeddings),
    cand AS (
      SELECT vec_id, label, embedding,
             ROUND(1.0 - {sql_sq_l2(_SQL_DEQUANT, _sql_qv(_QUERY_ID))}, 6)
               AS score_sq8
      FROM quant
      ORDER BY score_sq8 DESC, vec_id ASC LIMIT 5)
    SELECT vec_id, label, score_sq8,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
    """,
)
def ann_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 compression tier: candidates ranked on the int8-quantized
    representation (4x smaller scan/shuffle footprint at scale), exact
    rescore only for the k survivors. Quantization is pure deterministic
    double arithmetic, so the compressed ranking itself is oracle-checked."""
    emb = tbl(spark, sf_dir, "embeddings")
    return ann.sq8_knn(emb, _vec(spark, sf_dir, _QUERY_ID), k=5)


_FILTER_LABEL = 1


@query(
    "ann_ivf_filtered_knn",
    survey="north-star ANN × B1(filtered ANN: the metadata prefilter "
           "composed with IVF cell pruning — filter first, probe the "
           "survivors' cells)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC, centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.label = {_FILTER_LABEL}) t
      WHERE rn = 1)
    SELECT a.vec_id, a.label, a.centroid_id,
           ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM assigned a
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id ASC LIMIT 5
    """,
)
def ann_ivf_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — the production combination the reference serves as
    `where` + k-NN (vector_store.py:141 passes the filter INTO the HNSW
    query): the metadata predicate prunes the corpus BEFORE cell
    assignment (pushed to the scan), probes then rank only surviving
    members of the probed cells. Pre-filtering beats post-filtering
    whenever the filter is selective: post-filter k-NN can return < k rows
    after discarding, while pre-filter top-k is always k-complete within
    the probed cells."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    filtered = emb.filter(F.col("label") == _FILTER_LABEL)
    return ann.ivf_knn(filtered, centroids, _vec(spark, sf_dir, _QUERY_ID),
                       k=5, nprobe=_NPROBE)


# --- Matryoshka (truncated-prefix) -----------------------------------------

_MRL_PREFIX = 16      # 64-dim fixture vectors / 4 — the cheap nested prefix
_MRL_CAND = 25


def _sql_mrl_pref(expr: str) -> str:
    return f"({expr})[1:{_MRL_PREFIX}]"


@query(
    "ann_matryoshka_knn",
    survey="north-star ANN (Matryoshka truncated-prefix funnel: rank on "
           "the first prefix_dim components, exact-rescore the survivors)",
    oracle=f"""
    WITH cand AS (
      SELECT vec_id, label, embedding,
             ROUND(1.0 - {sql_sq_l2(_sql_mrl_pref('embedding'),
                                    _sql_mrl_pref(_sql_qv(_QUERY_ID)))}, 6)
               AS score_prefix
      FROM embeddings
      ORDER BY score_prefix DESC, vec_id ASC LIMIT {_MRL_CAND})
    SELECT vec_id, label, score_prefix,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
    ORDER BY score DESC, vec_id ASC LIMIT 5
    """,
)
def ann_matryoshka_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka tier: the corpus-wide ranking reads only the first
    {prefix}/{dim} of each vector (a materialized prefix column at scale —
    dim/prefix_dim less I/O per probe), the exact rescore touches just the
    over-fetched candidate set. No codebook/centroid state to manage,
    unlike SQ8/PQ/IVF."""
    emb = tbl(spark, sf_dir, "embeddings")
    return ann.matryoshka_knn(emb, _vec(spark, sf_dir, _QUERY_ID), k=5,
                              prefix_dim=_MRL_PREFIX, candidates=_MRL_CAND)


# --- binary (1-bit sign pack, Hamming ranking) ------------------------------

_BQ_DIM = 64
_BQ_CAND = 25
_BQ_WORDS = 2      # ann.BQ_WORD_BITS = 32 bits/word (bit 63 overflows
                   # DuckDB's checked signed shift)


def _sql_bq_pack(vec: str, w: int) -> str:
    """DuckDB twin of ann.sign_pack_words, word ``w``: 32 sign bits summed
    into a BIGINT (each bit once, so + == |)."""
    lo = w * 32
    return (f"list_sum(list_transform(range(0, 32), "
            f"i -> CASE WHEN CAST(({vec})[i + {lo + 1}] AS DOUBLE) "
            f"> CAST(0.0 AS DOUBLE) THEN (CAST(1 AS BIGINT) << i) "
            f"ELSE CAST(0 AS BIGINT) END))")


def _sql_bq_hamming(a_packs: list[str], b_packs: list[str]) -> str:
    """All args must be PACKED expressions — DuckDB disallows subqueries
    inside lambdas, so query-side packs are hoisted into a CTE."""
    terms = " + ".join(f"bit_count(xor({a}, {b}))"
                       for a, b in zip(a_packs, b_packs))
    return f"CAST({terms} AS INTEGER)"


@query(
    "ann_binary_hamming_knn",
    survey="north-star ANN (1-bit binary quantization: XOR+popcount "
           "Hamming ranking over sign packs, exact rescore — the 32x "
           "compression tier)",
    oracle=f"""
    WITH qpack AS (
      SELECT {_sql_bq_pack('embedding', 0)} AS qw0,
             {_sql_bq_pack('embedding', 1)} AS qw1
      FROM embeddings WHERE vec_id = {_QUERY_ID}),
    cand AS (
      SELECT vec_id, label, embedding,
             {_sql_bq_hamming(
                 [_sql_bq_pack('embedding', 0), _sql_bq_pack('embedding', 1)],
                 ['(SELECT qw0 FROM qpack)', '(SELECT qw1 FROM qpack)'])}
               AS hamming
      FROM embeddings
      ORDER BY hamming ASC, vec_id ASC LIMIT {_BQ_CAND})
    SELECT vec_id, label, hamming,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
    ORDER BY score DESC, vec_id ASC LIMIT 5
    """,
)
def ann_binary_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary tier: the ranking scan is integer XOR+popcount over one
    packed BIGINT per vector (64-dim fixture) — no float math, 32x less
    to scan than float32 when the pack is materialized; the exact rescore
    touches only the over-fetched candidates, as in the SQ8/Matryoshka
    funnels."""
    emb = tbl(spark, sf_dir, "embeddings")
    return ann.binary_knn(emb, _vec(spark, sf_dir, _QUERY_ID), k=5,
                          candidates=_BQ_CAND)


# --- PQ (product quantization) ---------------------------------------------

_PQ_M = 4
_PQ_K = 8
_PQ_SUB = 16        # 64-dim fixture vectors / 4 subspaces


def _sql_slice(expr: str, m: int) -> str:
    lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
    return f"{expr}[{lo}:{hi}]"


def _pq_code_cte(m: int) -> str:
    """codes for subspace m: nearest codeword (lowest cid on ties)."""
    return f"""
    code{m + 1} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2(_sql_slice('e.embedding', m),
                                     _sql_slice('c.embedding', m))} ASC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cw c) t
      WHERE rn = 1)"""


_PQ_QDISTS = " + ".join(
    sql_sq_l2(_sql_slice(_sql_qv(_QUERY_ID), m),
              _sql_slice(f"c{m + 1}.embedding", m))
    for m in range(_PQ_M))

_PQ_JOINS = "\n      ".join(
    f"JOIN code{m + 1} ON code{m + 1}.vec_id = e.vec_id "
    f"JOIN cw c{m + 1} ON c{m + 1}.cid = code{m + 1}.cid"
    for m in range(_PQ_M))

_SQL_PQ = f"""
    WITH cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte(m) for m in range(_PQ_M))},
    cand AS (
      SELECT e.vec_id, e.label, e.embedding,
             ROUND(1.0 - (0.0 + {_PQ_QDISTS}), 6) AS score_pq
      FROM embeddings e
      {_PQ_JOINS}
      ORDER BY score_pq DESC, e.vec_id ASC LIMIT 5)
    SELECT vec_id, label, score_pq,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
"""


@query(
    "ann_pq_knn",
    survey="north-star ANN (product quantization: M-code asymmetric-distance "
           "ranking, exact rescore)",
    oracle=_SQL_PQ,
)
def ann_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ tier: each vector collapses to M=4 codeword indices; candidate
    ranking is M lookups into the query's per-subspace distance table
    instead of a 64-dim distance. Codebooks are corpus slices (deterministic
    anchors), so encoding AND ranking replicate in SQL bit-for-bit."""
    emb = tbl(spark, sf_dir, "embeddings")
    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    return ann.pq_knn(emb, _vec(spark, sf_dir, _QUERY_ID), books, k=5)


# --- IVF x PQ composition ---------------------------------------------------

def _pq_code_cte_from(m: int, src: str) -> str:
    """codes for subspace m computed over the ``src`` CTE's rows."""
    return f"""
    code{m + 1} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2(_sql_slice('e.embedding', m),
                                     _sql_slice('c.embedding', m))} ASC,
                          c.cid ASC) AS rn
        FROM {src} e CROSS JOIN cw c) t
      WHERE rn = 1)"""


_SQL_IVF_PQ = f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC, centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    cell AS (
      SELECT * FROM assigned
      WHERE centroid_id IN (SELECT centroid_id FROM probe)),
    cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte_from(m, "cell") for m in range(_PQ_M))},
    cand AS (
      SELECT e.vec_id, e.label, e.centroid_id, e.embedding,
             ROUND(1.0 - (0.0 + {_PQ_QDISTS}), 6) AS score_pq
      FROM cell e
      {_PQ_JOINS}
      ORDER BY score_pq DESC, e.vec_id ASC LIMIT 5)
    SELECT vec_id, label, centroid_id, score_pq,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
"""


@query(
    "ann_ivf_pq_knn",
    survey="north-star ANN (IVF x PQ composition: cell pruning + code "
           "ranking + exact rescore)",
    oracle=_SQL_IVF_PQ,
)
def ann_ivf_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ pipeline: IVF decides WHICH rows (nprobe cells), PQ
    decides HOW CHEAPLY to rank them (M lookups/row), exact rescore on the
    k survivors — both savings multiply at scale. All anchors are corpus
    vectors, so the complete composition replicates in SQL."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    return ann.ivf_pq_knn(emb, centroids, _vec(spark, sf_dir, _QUERY_ID),
                          books, k=5, nprobe=_NPROBE)


_IVF_PQ_ORACLE = REGISTRY["ann_ivf_pq_knn"].oracle


@query(
    "ann_ivf_pq_indexed_knn",
    survey="north-star ANN (materialized IVF-PQ index: partition-pruned "
           "probe + code-column-only ranking scan)",
    oracle=_IVF_PQ_ORACLE,
)
def ann_ivf_pq_indexed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_pq_knn over a MATERIALIZED index: cells as partition
    directories, PQ codes as stored columns. The ranking scan's ReadSchema
    carries only (id, label, codes) — asserted in tests — and rescore
    touches full vectors for k rows. Same oracle as ann_ivf_pq_knn: layout
    change, not a semantic one. Codebook training and the index build are
    memoized per session (``_memo``) — deterministic artifacts of immutable
    input; repeated calls measure serving."""

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = _memo(("pq_books", sf_dir, _PQ_M, _PQ_K),
                  lambda: ann.pq_codebooks(emb, _PQ_M, _PQ_K))

    def _build() -> str:
        path = scratch_dir("ivf_pq_index_")
        ann.write_ivf_pq_index(emb, centroids, books, path)
        return path

    path = _memo(("ivf_pq_index", sf_dir), _build)
    return ann.ivf_pq_knn_indexed(spark, path, centroids,
                                  _vec(spark, sf_dir, _QUERY_ID), books,
                                  k=5, nprobe=_NPROBE)


@query(
    "ann_ivf_pq_streamed_knn",
    survey="north-star ANN (streaming-refreshed IVF-PQ index: foreachBatch "
           "incremental encode + append into touched cells)",
    oracle=_IVF_PQ_ORACLE,
)
def ann_ivf_pq_streamed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLINE index-maintenance loop (ChromaDB applies its WAL to the
    HNSW segment in batches — chroma.sqlite3 batch_size=100): half the
    corpus batch-builds the index, the other half arrives as a stream and
    is incrementally IVF-assigned + PQ-encoded per micro-batch, appending
    only into the touched cells. Search over the refreshed index carries
    the SAME oracle as ann_ivf_pq_knn — streaming refresh is a delivery
    change, not a semantic one."""

    from server2_vector_search_server_spark.streaming.ann_index import (
        start_ivf_pq_refresh_stream,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    root = scratch_dir("ivf_pq_stream_")
    index_path = f"{root}/index"
    src_dir = f"{root}/arrivals"
    ann.write_ivf_pq_index(emb.filter(F.col("vec_id") % 2 == 0),
                           centroids, books, index_path)
    emb.filter(F.col("vec_id") % 2 == 1).repartition(2) \
        .write.parquet(src_dir)
    q = start_ivf_pq_refresh_stream(spark, src_dir, index_path, centroids,
                                    books, f"{root}/ckpt",
                                    max_files_per_trigger=1)
    q.awaitTermination()
    return ann.ivf_pq_knn_indexed(spark, index_path, centroids,
                                  _vec(spark, sf_dir, _QUERY_ID), books,
                                  k=5, nprobe=_NPROBE)


@query(
    "ann_pq_kmeans_knn",
    survey="north-star ANN (PQ with MLlib-KMeans-fitted codebooks, pinned "
           "by hash-checked invariants: k rows, self-hit, codebook shape)",
    oracle=f"""
    SELECT CAST(5 AS BIGINT) AS n_rows, TRUE AS self_found,
           CAST({_PQ_M} AS BIGINT) AS n_subspaces,
           CAST({_PQ_K} AS BIGINT) AS n_codewords
    """,
)
def ann_pq_kmeans_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with FITTED per-subspace codebooks (the construction the
    PQ paper prescribes) — better reconstruction than corpus slices at the
    cost of oracle reproducibility. k-means|| init isn't SQL, so the
    checked contract is the invariant set (VERDICT r4 item 5): k rows come
    back; the query's own vector is among them (its codes are the nearest
    codewords to its own slices, so its asymmetric distance is the minimal
    quantization error — rank 1 empirically at both fixture SFs, and
    self_found ⇒ recall@5 ≥ 0.2 since the self-hit is in the exact
    top-5); and the fitted books have the configured M×K shape. The
    encode/search machinery is the same code ann_pq_knn certifies
    hash-exactly against SQL with slice codebooks."""
    emb = tbl(spark, sf_dir, "embeddings")
    books = ann.pq_codebooks_kmeans(emb, _PQ_M, _PQ_K)
    out = (ann.pq_knn(emb, _vec(spark, sf_dir, _QUERY_ID), books, k=5)
           .localCheckpoint(eager=True))
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max((F.col("vec_id") == _QUERY_ID).cast("int")).cast("boolean")
        .alias("self_found"),
        F.lit(len(books)).cast("long").alias("n_subspaces"),
        F.lit(min(len(b) for b in books)).cast("long")
        .alias("n_codewords"))


# --- ANN self-evaluation: recall@k of IVF vs exact --------------------------

_RECALL_K = 10
_RECALL_QIDS = (40, 41, 42, 43, 44)
_SQL_QIDS = ", ".join(str(i) for i in _RECALL_QIDS)


@query(
    "ann_ivf_recall_at_k",
    survey="north-star ANN (index-quality self-evaluation: recall@10 of the "
           "IVF probe path against the exact brute-force ranking, per query)",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id IN ({_SQL_QIDS})),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2('e.embedding', 'q.qv')}, 6)
                            DESC, e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN q) t
      WHERE rn <= {_RECALL_K}),
    probes AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_sq_l2('c.centroid', 'q.qv')} ASC,
                          c.centroid_id ASC) AS rn
        FROM cent c CROSS JOIN q) t
      WHERE rn <= {_NPROBE}),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    ivf AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               row_number() OVER (
                 PARTITION BY p.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2('e.embedding', 'q.qv')}, 6)
                            DESC, a.vec_id ASC) AS rn
        FROM assigned a
        JOIN probes p USING (centroid_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN q ON q.qid = p.qid) t
      WHERE rn <= {_RECALL_K}),
    hits AS (
      SELECT exact.qid, COUNT(*) AS n_hits
      FROM exact JOIN ivf USING (qid, vec_id)
      GROUP BY exact.qid)
    SELECT q.qid,
           CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / {float(_RECALL_K)}, 6)
             AS recall_at_{_RECALL_K}
    FROM q LEFT JOIN hits h USING (qid)
    ORDER BY q.qid
    """,
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF(nprobe=2) vs exact, for 5 query vectors in ONE job.

    The query set and centroid set are broadcast, so the corpus is scanned
    once per ranking (exact + cell assignment); the per-query top-k windows
    shuffle only scored candidates, and the recall join touches k-sized
    rankings. This is the operational loop for tuning nprobe at 100 TB:
    recall is measured on a query sample inside the engine, no export."""
    from pyspark.sql import Window
    from server2_vector_search_server_spark.operators.ann import ivf_assign

    emb = tbl(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id").isin(*_RECALL_QIDS))
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))
    cent = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("centroid")))

    score = exact_score("qv", "embedding")
    w_q = Window.partitionBy("qid").orderBy(score.desc(),
                                            F.col("vec_id").asc())
    exact = (emb.crossJoin(F.broadcast(q))
             .withColumn("rn", F.row_number().over(w_q))
             .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))

    w_p = Window.partitionBy("qid").orderBy(
        F.expr(squared_l2_sql("centroid", "qv")).asc(),
        F.col("centroid_id").asc())
    probes = (cent.crossJoin(F.broadcast(q))
              .withColumn("rn", F.row_number().over(w_p))
              .filter(F.col("rn") <= _NPROBE).select("qid", "centroid_id"))

    assigned = ivf_assign(emb, cent).select("vec_id", "centroid_id",
                                            "embedding")
    ivf = (assigned.join(F.broadcast(probes), "centroid_id")
           .join(F.broadcast(q), "qid")
           .withColumn("rn", F.row_number().over(w_q))
           .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))

    hits = (exact.join(ivf, ["qid", "vec_id"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (q.select("qid").join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("int")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0))
                            / float(_RECALL_K), 6)
                    .alias(f"recall_at_{_RECALL_K}"))
            .orderBy("qid"))


_BATCH_Q_LO, _BATCH_Q_HI = 420, 428    # 8 query vectors, outside the corpus
                                       # slice but inside every SF's 500-row
                                       # embeddings fixture
_BATCH_CORPUS_N = 400


@query(
    "ann_ivf_batch_knn",
    survey="north-star ANN (batched IVF serving: N queries, one "
           "partition-pruned corpus scan, per-query probe sets)",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id < {_BATCH_CORPUS_N}),
    cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_N_CENTROIDS}),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id >= {_BATCH_Q_LO} AND vec_id < {_BATCH_Q_HI}),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND({sql_sq_l2('c.cv', 'q.qv')}, 6) ASC,
                          c.cid ASC) AS rn
        FROM qs q CROSS JOIN cent c) WHERE rn <= {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.cv')} ASC,
                          c.cid ASC) AS rn
        FROM corpus e CROSS JOIN cent c) WHERE rn = 1),
    cand AS (
      SELECT p.query_id, a.vec_id, a.label, a.cid AS centroid_id,
             ROUND(1.0 - {sql_sq_l2('q.qv', 'a.embedding')}, 6) AS score
      FROM probe p JOIN assigned a ON a.cid = p.cid
      JOIN qs q USING (query_id))
    SELECT query_id, vec_id, label, centroid_id, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, vec_id ASC) AS rn FROM cand)
    WHERE rn <= 5
    ORDER BY query_id, score DESC, vec_id
    """,
)
def ann_ivf_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-Flat serving (operators/ann.ivf_knn_batch): 8 query
    vectors arrive as a DataFrame; probe-cell selection is a pure
    expression per query row (no driver loop), the probe table broadcasts,
    and ONE cell-assigned corpus scan answers the whole batch with a
    per-query top-k window — how a 1000-executor cluster serves query
    traffic against a centroid-partitioned 100 TB corpus."""
    emb = tbl(spark, sf_dir, "embeddings")
    corpus = (emb.filter(F.col("vec_id") < _BATCH_CORPUS_N)
              .select("vec_id", "label", "embedding"))
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    queries = (emb.filter((F.col("vec_id") >= _BATCH_Q_LO)
                          & (F.col("vec_id") < _BATCH_Q_HI))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    out = ann.ivf_knn_batch(corpus, centroids, queries, k=5, nprobe=_NPROBE)
    return (out.select("query_id", "vec_id", "label", "centroid_id", "score")
            .orderBy("query_id", F.col("score").desc(), "vec_id"))


@query(
    "ann_ivf_batch_indexed_knn",
    survey="north-star ANN (batched serving against the MATERIALIZED "
           "index: dynamic partition pruning derives the probed-cell "
           "directories from the broadcast probe table at runtime)",
    oracle=REGISTRY["ann_ivf_batch_knn"].oracle,
)
def ann_ivf_batch_indexed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract and oracle as ann_ivf_batch_knn — the materialized
    index is a LAYOUT change, not a semantic one. The probe table joins the
    index on its partition column, so Spark's dynamic partition pruning
    restricts the scan to the probed cells' directories (asserted on the
    executed plan in tests/test_plan_audits.py) with zero assignment
    recompute. Codebooks and the index build are memoized per session
    (``_memo``): deterministic artifacts of immutable input, so repeated
    calls measure the batched-serving path."""

    emb = tbl(spark, sf_dir, "embeddings")
    corpus = (emb.filter(F.col("vec_id") < _BATCH_CORPUS_N)
              .select("vec_id", "label", "embedding"))
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = _memo(("pq_books_batch", sf_dir, _BATCH_CORPUS_N, 4, 4),
                  lambda: ann.pq_codebooks(corpus, 4, 4))

    def _build() -> str:
        path = scratch_dir("ivf_batch_idx_") + "/index"
        ann.write_ivf_pq_index(corpus, centroids, books, path)
        return path

    path = _memo(("ivf_batch_index", sf_dir), _build)
    queries = (emb.filter((F.col("vec_id") >= _BATCH_Q_LO)
                          & (F.col("vec_id") < _BATCH_Q_HI))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    out = ann.ivf_knn_batch_indexed(spark, path, centroids, queries,
                                    k=5, nprobe=_NPROBE)
    return (out.select("query_id", "vec_id", "label", "centroid_id",
                       "score")
            .orderBy("query_id", F.col("score").desc(), "vec_id"))


# --- recall@k for the COMPRESSED tiers (SQ8 / PQ / IVF×PQ) ------------------
#
# Same self-evaluation as ann_ivf_recall_at_k, one query per tier, so the
# accuracy side of each tier's accuracy/speed trade is a hash-checked number
# (VERDICT r02 item 6). All tiers share the query set, exact ranking, and
# hit-count tail; only the candidate ranking differs — which is exactly the
# claim each tier makes.

_SQL_RECALL_Q = f"""
    q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id IN ({_SQL_QIDS}))"""

_SQL_RECALL_EXACT = f"""
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2('e.embedding', 'q.qv')}, 6)
                            DESC, e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN q) t
      WHERE rn <= {_RECALL_K})"""

_SQL_RECALL_TAIL = f"""
    hits AS (
      SELECT exact.qid, COUNT(*) AS n_hits
      FROM exact JOIN tier USING (qid, vec_id)
      GROUP BY exact.qid)
    SELECT q.qid,
           CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / {float(_RECALL_K)}, 6)
             AS recall_at_{_RECALL_K}
    FROM q LEFT JOIN hits h USING (qid)
    ORDER BY q.qid"""

_PQ_QDISTS_Q = " + ".join(
    sql_sq_l2(_sql_slice("q.qv", m), _sql_slice(f"c{m + 1}.embedding", m))
    for m in range(_PQ_M))


def _recall_parts(spark, sf_dir):
    """(embeddings, broadcastable query set, exact top-K per query)."""
    from pyspark.sql import Window

    emb = tbl(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id").isin(*_RECALL_QIDS))
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    score = exact_score("qv", "embedding")
    w_q = Window.partitionBy("qid").orderBy(score.desc(),
                                            F.col("vec_id").asc())
    exact = (emb.crossJoin(F.broadcast(q))
             .withColumn("rn", F.row_number().over(w_q))
             .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return emb, q, exact


def _pq_qv_score(books: list[list[list[float]]]):
    """The PQ asymmetric score against the per-query ``qv`` column:
    ``round(1 − Σ_m table_m[pq_code_m], 6)``, each query→codeword table a
    ``transform`` over the literal codebook, all in one ``F.expr``."""
    sub = len(books[0][0])
    d2 = "0.0D"
    for m, cbook in enumerate(books):
        q_slice = f"slice(qv, {m * sub + 1}, {sub})"
        d2 += (f" + element_at(transform({vectors_literal_sql(cbook)}, "
               f"c -> {squared_l2_sql('c', q_slice)}), pq_code_{m + 1})")
    return F.expr(score_sql(d2, 6))


def _recall_result(q, exact, tier):
    hits = (exact.join(tier, ["qid", "vec_id"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (q.select("qid").join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("int")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0))
                            / float(_RECALL_K), 6)
                    .alias(f"recall_at_{_RECALL_K}"))
            .orderBy("qid"))


@query(
    "ann_sq8_recall_at_k",
    survey="north-star ANN (SQ8 tier self-evaluation: recall@10 of the "
           "int8-quantized ranking vs exact, per query)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    quant AS (
      SELECT vec_id, embedding, {_SQL_SCALE} AS s FROM embeddings),
    tier AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2(_SQL_DEQUANT, 'q.qv')}, 6)
                            DESC, e.vec_id ASC) AS rn
        FROM quant e CROSS JOIN q) t
      WHERE rn <= {_RECALL_K}),
    {_SQL_RECALL_TAIL}
    """,
)
def ann_sq8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the SQ8-compressed ranking for 5 query vectors in one
    job: quantize once (a narrow projection), score every (vector, query)
    pair on the dequantized form, window top-K per query, and count overlap
    with the exact ranking. The measured number is the whole point of the
    tier: how much ranking quality the 4x scan compression costs."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    quant = ann.sq8_quantize(emb)
    s8 = exact_score(
        "qv", "transform(qvec, x -> CAST(x AS DOUBLE) / sq8_scale)")
    w = Window.partitionBy("qid").orderBy(s8.desc(), F.col("vec_id").asc())
    tier = (quant.crossJoin(F.broadcast(q))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


@query(
    "ann_matryoshka_recall_at_k",
    survey="north-star ANN (Matryoshka tier self-evaluation: recall@10 of "
           "the truncated-prefix ranking vs exact, per query)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    tier AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2(
                     _sql_mrl_pref('e.embedding'),
                     _sql_mrl_pref('q.qv'))}, 6)
                            DESC, e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN q) t
      WHERE rn <= {_RECALL_K}),
    {_SQL_RECALL_TAIL}
    """,
)
def ann_matryoshka_recall_at_k(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Recall@10 of the raw truncated-prefix ranking (no rescore stage) for
    5 query vectors in one job — the number that sizes the over-fetch
    funnel: if prefix recall@10 is r, candidates must be ~k/r for the
    rescored top-k to approach exact. Same single-scan shape as the other
    recall tiers."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    sp = exact_score(f"slice(qv, 1, {_MRL_PREFIX})",
                     f"slice(embedding, 1, {_MRL_PREFIX})")
    w = Window.partitionBy("qid").orderBy(sp.desc(), F.col("vec_id").asc())
    tier = (emb.crossJoin(F.broadcast(q))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


@query(
    "ann_binary_recall_at_k",
    survey="north-star ANN (binary tier self-evaluation: recall@10 of the "
           "Hamming ranking vs exact, per query)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    qp AS (
      SELECT qid, {_sql_bq_pack('qv', 0)} AS qw0,
             {_sql_bq_pack('qv', 1)} AS qw1 FROM q),
    ep AS (
      SELECT vec_id, {_sql_bq_pack('embedding', 0)} AS ew0,
             {_sql_bq_pack('embedding', 1)} AS ew1 FROM embeddings),
    tier AS (
      SELECT qid, vec_id FROM (
        SELECT qp.qid, ep.vec_id,
               row_number() OVER (
                 PARTITION BY qp.qid
                 ORDER BY {_sql_bq_hamming(['ep.ew0', 'ep.ew1'],
                                           ['qp.qw0', 'qp.qw1'])} ASC,
                          ep.vec_id ASC) AS rn
        FROM ep CROSS JOIN qp) t
      WHERE rn <= {_RECALL_K}),
    {_SQL_RECALL_TAIL}
    """,
)
def ann_binary_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the raw Hamming ranking — the number that decides how
    hard the 32x tier's over-fetch must work; with it, binary-vs-SQ8-vs-
    Matryoshka is a measured accuracy/compression frontier, not folklore."""
    from pyspark.sql import Window
    from server2_vector_search_server_spark.operators.ann import (
        sign_pack_words,
    )

    emb, q, exact = _recall_parts(spark, sf_dir)
    packed = emb.select("vec_id", *sign_pack_words("embedding", _BQ_DIM))
    q_words = sign_pack_words("qv", _BQ_DIM)
    q_packed = q.select(
        "qid", *[q_words[i].alias(f"q_word_{i}") for i in range(_BQ_WORDS)])
    ham = sum(
        (F.bit_count(F.col(f"bq_word_{i}").bitwiseXOR(F.col(f"q_word_{i}")))
         for i in range(_BQ_WORDS)), F.lit(0)).cast("int")
    w = Window.partitionBy("qid").orderBy(ham.asc(), F.col("vec_id").asc())
    tier = (packed.crossJoin(F.broadcast(q_packed))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


@query(
    "ann_pq_recall_at_k",
    survey="north-star ANN (PQ tier self-evaluation: recall@10 of the "
           "asymmetric-distance code ranking vs exact, per query)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte(m) for m in range(_PQ_M))},
    tier AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(1.0 - (0.0 + {_PQ_QDISTS_Q}), 6) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e
        {_PQ_JOINS}
        CROSS JOIN q) t
      WHERE rn <= {_RECALL_K}),
    {_SQL_RECALL_TAIL}
    """,
)
def ann_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ asymmetric-distance ranking (M=4 code lookups per
    candidate). Codes are encoded once, query-independent; the per-query
    codeword distance is an expression over the broadcast query row here —
    at serving scale the batched path precomputes the q x K x M distance
    table (as ivf_knn_batch does for probes) instead."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    encoded = ann.pq_encode(emb, books)
    sp = _pq_qv_score(books)
    w = Window.partitionBy("qid").orderBy(sp.desc(), F.col("vec_id").asc())
    tier = (encoded.crossJoin(F.broadcast(q))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


@query(
    "ann_ivf_pq_recall_at_k",
    survey="north-star ANN (IVF×PQ tier self-evaluation: recall@10 of "
           "cell-pruned code ranking vs exact, per query)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probes AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_sq_l2('c.centroid', 'q.qv')} ASC,
                          c.centroid_id ASC) AS rn
        FROM cent c CROSS JOIN q) t
      WHERE rn <= {_NPROBE}),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte(m) for m in range(_PQ_M))},
    tier AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.qid
                 ORDER BY ROUND(1.0 - (0.0 + {_PQ_QDISTS_Q}), 6) DESC,
                          e.vec_id ASC) AS rn
        FROM assigned a
        JOIN probes p USING (centroid_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        {_PQ_JOINS}
        JOIN q ON q.qid = p.qid) t
      WHERE rn <= {_RECALL_K}),
    {_SQL_RECALL_TAIL}
    """,
)
def ann_ivf_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF×PQ path: per-query probe sets prune to
    nprobe cells, PQ codes rank only the surviving candidates. The recall
    deficit vs ann_pq_recall_at_k isolates the IVF pruning loss; vs
    ann_ivf_recall_at_k it isolates the PQ ranking loss — the decomposition
    you tune against at 100 TB before touching nprobe or M."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    cent = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("centroid")))
    w_p = Window.partitionBy("qid").orderBy(
        F.expr(squared_l2_sql("centroid", "qv")).asc(),
        F.col("centroid_id").asc())
    probes = (cent.crossJoin(F.broadcast(q))
              .withColumn("rn", F.row_number().over(w_p))
              .filter(F.col("rn") <= _NPROBE).select("qid", "centroid_id"))

    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    codes = ann.pq_encode(emb, books).select(
        "vec_id", *[f"pq_code_{m + 1}" for m in range(_PQ_M)])
    assigned = ann.ivf_assign(emb, cent).select("vec_id", "centroid_id")

    sp = _pq_qv_score(books)
    w = Window.partitionBy("qid").orderBy(sp.desc(), F.col("vec_id").asc())
    tier = (assigned.join(F.broadcast(probes), "centroid_id")
            .join(codes, "vec_id")
            .join(F.broadcast(q), "qid")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


@query(
    "ann_pq_kmeans_recall_at_k",
    survey="north-star ANN (PQ with FITTED k-means codebooks: recall@10 "
           "self-evaluation, pinned by a hash-checked mean-recall floor "
           "over the query panel)",
    oracle=f"""
    SELECT CAST({len(_RECALL_QIDS)} AS BIGINT) AS n_queries,
           TRUE AS mean_recall_ge_012, TRUE AS recalls_in_range
    """,
)
def ann_pq_kmeans_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical ranking machinery to ``ann_pq_recall_at_k`` but with
    ``pq_codebooks_kmeans`` — codewords that MINIMIZE in-subspace
    quantization error (the PQ paper's construction) instead of arbitrary
    corpus slices. ``tests/test_dedup_ann_text.py`` asserts the trained
    books' mean recall@10 is at least the slice books' on the same
    fixture (the measurable payoff of fitting); the hash-checked contract
    here (VERDICT r4 item 5) bounds the panel: mean recall@10 ≥ 0.12
    (measured 0.26-0.30; chance over the corpus is 10/n ≈ 0.02-0.005) and
    every per-query recall in [0, 1]. A codebook-training regression
    flips the booleans and reds the row."""
    per_q = pq_kmeans_recall_per_query(spark, sf_dir)
    rc = F.col(f"recall_at_{_RECALL_K}")
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg(rc) >= 0.12).alias("mean_recall_ge_012"),
        ((F.min(rc) >= 0.0) & (F.max(rc) <= 1.0))
        .alias("recalls_in_range"))


def pq_kmeans_recall_per_query(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the fitted-codebook PQ tier (the quantity
    ``ann_pq_kmeans_recall_at_k`` bounds; tests compare it to the
    slice-codebook twin directly)."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    books = ann.pq_codebooks_kmeans(emb, _PQ_M, _PQ_K)
    encoded = ann.pq_encode(emb, books)
    sp = _pq_qv_score(books)
    w = Window.partitionBy("qid").orderBy(sp.desc(), F.col("vec_id").asc())
    tier = (encoded.crossJoin(F.broadcast(q))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    return _recall_result(q, exact, tier)


_ADAPTIVE_CUTOFF = 100


@query(
    "search_adaptive_knn_selective",
    survey="north-star ANN × B1 (cost-based strategy switch, SELECTIVE "
           "branch: the filter leaves few survivors, so the planner scans "
           "them exactly instead of probing the index)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    surv AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE label = {_FILTER_LABEL} AND vec_id % 5 = 0),
    n AS (SELECT COUNT(*) AS c FROM surv),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC,
               centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT s.vec_id, s.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {sql_sq_l2('s.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM surv s CROSS JOIN cent c) t
      WHERE rn = 1),
    exact_b AS (
      SELECT vec_id,
             ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score,
             'exact' AS strategy
      FROM surv WHERE (SELECT c FROM n) <= {_ADAPTIVE_CUTOFF}
      ORDER BY score DESC, vec_id ASC LIMIT 5),
    ivf_b AS (
      SELECT a.vec_id,
             ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score,
             'ivf' AS strategy
      FROM assigned a
      WHERE (SELECT c FROM n) > {_ADAPTIVE_CUTOFF}
        AND a.centroid_id IN (SELECT centroid_id FROM probe)
      ORDER BY score DESC, a.vec_id ASC LIMIT 5)
    SELECT * FROM exact_b UNION ALL SELECT * FROM ivf_b
    """,
)
def search_adaptive_knn_selective(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """operators/ann.adaptive_filtered_knn with a highly selective filter:
    the survivor count (a pushed-down pruned scan here; a statistics lookup
    at 100 TB) lands under the cutoff at the fixture scales, so the EXACT
    branch runs — cheaper than probing and recall-1.0 by construction.
    The strategy column is part of the hash-checked contract, and the
    oracle replays the operator's COUNT-vs-cutoff gate rather than
    pinning a branch, so the twin stays faithful at ANY corpus size (the
    10× spot sweep legitimately flipped this filter past the cutoff —
    r9; the sf-scale rows still prove the exact branch, the broad twin
    still pins the ivf branch)."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    filtered = emb.filter((F.col("label") == _FILTER_LABEL)
                          & (F.col("vec_id") % 5 == 0))
    return ann.adaptive_filtered_knn(
        filtered, centroids, _vec(spark, sf_dir, _QUERY_ID),
        k=5, nprobe=_NPROBE, cutoff=_ADAPTIVE_CUTOFF)


@query(
    "search_adaptive_knn_broad",
    survey="north-star ANN × B1 (cost-based strategy switch, BROAD branch: "
           "an unselective filter keeps the corpus big, so the planner "
           "probes IVF cells instead of scanning)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC,
               centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.label >= 0) t
      WHERE rn = 1)
    SELECT a.vec_id,
           ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score,
           'ivf' AS strategy
    FROM assigned a
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id ASC LIMIT 5
    """,
)
def search_adaptive_knn_broad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator, unselective filter (label >= 0 keeps everything): the
    survivor count exceeds the cutoff and the IVF branch runs — the oracle
    reproduces the full probe + cell-restricted ranking AND asserts
    strategy='ivf', so a mis-switched plan fails the hash even when both
    branches would return similar top-5 sets."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    filtered = emb.filter(F.col("label") >= 0)
    return ann.adaptive_filtered_knn(
        filtered, centroids, _vec(spark, sf_dir, _QUERY_ID),
        k=5, nprobe=_NPROBE, cutoff=_ADAPTIVE_CUTOFF)


# --- IVF x PQ with RESIDUAL encoding ----------------------------------------

def _sql_resid(v: str, c: str) -> str:
    return (f"list_transform(list_zip({v}, {c}), "
            f"p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))")


def _rpq_code_cte(m: int) -> str:
    return f"""
    rcode{m + 1} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2(_sql_slice('e.resid', m),
                                     _sql_slice('c.resid', m))} ASC,
                          c.cid ASC) AS rn
        FROM rcell e CROSS JOIN cwr c) t
      WHERE rn = 1)"""


_RPQ_QD = " + ".join(
    sql_sq_l2(_sql_slice("e.qresid", m), _sql_slice(f"rc{m + 1}.resid", m))
    for m in range(_PQ_M))

_RPQ_JOINS = "\n      ".join(
    f"JOIN rcode{m + 1} ON rcode{m + 1}.vec_id = e.vec_id "
    f"JOIN cwr rc{m + 1} ON rc{m + 1}.cid = rcode{m + 1}.cid"
    for m in range(_PQ_M))

_SQL_RPQ_BASE = f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC,
               centroid_id ASC
      LIMIT {_NPROBE}),
    assigned2 AS (
      SELECT vec_id, label, embedding, centroid_id, centroid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id, c.centroid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    cwr AS (
      SELECT vec_id AS cid, {_sql_resid('embedding', 'centroid')} AS resid
      FROM assigned2 WHERE vec_id < {_PQ_K}),
    rcell AS (
      SELECT vec_id, label, embedding, centroid_id,
             {_sql_resid('embedding', 'centroid')} AS resid,
             {_sql_resid(_sql_qv(_QUERY_ID), 'centroid')} AS qresid
      FROM assigned2
      WHERE centroid_id IN (SELECT centroid_id FROM probe)),
    {",".join(_rpq_code_cte(m) for m in range(_PQ_M))}"""


@query(
    "ann_ivf_pq_residual_knn",
    survey="north-star ANN (RESIDUAL IVF-PQ — the Faiss IVFx,PQy "
           "composition: codes quantize v − centroid, per-probed-cell "
           "asymmetric-distance tables from q − centroid_c)",
    oracle=f"""
    {_SQL_RPQ_BASE},
    cand AS (
      SELECT e.vec_id, e.label, e.centroid_id, e.embedding,
             ROUND(1.0 - (0.0 + {_RPQ_QD}), 6) AS score_pq
      FROM rcell e
      {_RPQ_JOINS}
      ORDER BY score_pq DESC, e.vec_id ASC LIMIT 5)
    SELECT vec_id, label, centroid_id, score_pq,
           ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM cand
    """,
)
def ann_ivf_pq_residual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ end-to-end (operators/ann.ivf_pq_residual_knn):
    residuals concentrate the code budget on within-cell structure — the
    standard recall lift over non-residual PQ at the same (M, K, nprobe).
    Every stage (assignment, residual codebooks, codes, per-cell ADC
    lookups, rescore) is deterministic and replicated relationally in the
    oracle, so the composition is hash-checked stage-for-stage."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = ann.residual_pq_codebooks(emb, centroids, _PQ_M, _PQ_K)
    return ann.ivf_pq_residual_knn(
        emb, centroids, _vec(spark, sf_dir, _QUERY_ID), books,
        k=5, nprobe=_NPROBE)


@query(
    "ann_ivf_pq_residual_recall_at_k",
    survey="north-star ANN (index-quality self-evaluation: recall@10 of "
           "residual IVF-PQ vs the exact ranking — the lift over "
           "non-residual ann_ivf_pq at the same budget, quantified)",
    oracle=f"""
    {_SQL_RPQ_BASE},
    rtop AS (
      SELECT e.vec_id
      FROM rcell e
      {_RPQ_JOINS}
      ORDER BY ROUND(1.0 - (0.0 + {_RPQ_QD}), 6) DESC, e.vec_id ASC
      LIMIT 10),
    exact AS (
      SELECT vec_id FROM embeddings
      ORDER BY ROUND(1.0 - {sql_sq_l2('embedding', _sql_qv(_QUERY_ID))}, 6)
                 DESC, vec_id ASC
      LIMIT 10)
    SELECT CAST(COUNT(*) AS INTEGER) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_10
    FROM exact JOIN rtop USING (vec_id)
    """,
)
def ann_ivf_pq_residual_recall_at_k(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Recall@10 of the residual composition against brute force, same
    shape as the other tier self-evals — comparable side-by-side with
    ann_ivf_pq_recall_at_k to see what residual encoding buys. Measured
    caveat on THIS fixture: recall is probe-bound, not code-bound — the
    synthetic vectors are near-uniform, so nprobe=2 of 8 cells caps recall
    regardless of code quality (k-means-fitted residual books measured the
    same 0.1–0.2; SCALE.md §1a's uniform-vectors lesson). On clustered
    real embeddings the residual lift appears once the probe set contains
    the true neighbors."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = ann.residual_pq_codebooks(emb, centroids, _PQ_M, _PQ_K)
    qv = _vec(spark, sf_dir, _QUERY_ID)
    walk = (ann.ivf_pq_residual_knn(emb, centroids, qv, books,
                                    k=10, nprobe=_NPROBE)
            .select("vec_id"))
    score = exact_score(vector_literal_sql(qv), "embedding")
    exact = (emb.select("vec_id", score.alias("score"))
             .orderBy(F.col("score").desc(), F.col("vec_id").asc())
             .limit(10).select("vec_id"))
    hits = exact.join(walk, "vec_id")
    return hits.agg(F.count(F.lit(1)).cast("int").alias("n_hits"),
                    F.round(F.count(F.lit(1)) / 10.0, 6)
                    .alias("recall_at_10"))


# --- nprobe recall frontier (round 4, VERDICT item 7) ------------------------
# The residual/PQ self-evals showed recall on this near-uniform fixture is
# PROBE-bound, not code-bound — so the tunable that buys recall is nprobe,
# and the frontier (recall vs candidate volume as nprobe grows) is the
# number an operator of this engine tunes against. One job computes the
# whole sweep: probes are RANKED once per query, each nprobe level is a
# filter on that rank — no per-level re-scan.

_FRONTIER_NPROBES = (1, 2, 4, 8)


def _pq_frontier_ranked(spark, sf_dir, max_rank):
    """Shared stage-1 machinery of BOTH frontier queries (code-review r4:
    was duplicated verbatim): probes ranked once per query, swept over
    ``_FRONTIER_NPROBES`` via a rank filter, corpus PQ-code-ranked per
    (nprobe, qid) up to ``max_rank``. Returns
    (emb, q, exact, npdf, pq_ranked[nprobe, qid, vec_id, rn])."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    cent = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("centroid")))
    w_p = Window.partitionBy("qid").orderBy(
        F.expr(squared_l2_sql("centroid", "qv")).asc(),
        F.col("centroid_id").asc())
    probes_ranked = (cent.crossJoin(F.broadcast(q))
                     .withColumn("rn", F.row_number().over(w_p))
                     .filter(F.col("rn") <= max(_FRONTIER_NPROBES))
                     .select("qid", "centroid_id", "rn"))
    npdf = spark.createDataFrame([(p,) for p in _FRONTIER_NPROBES],
                                 "nprobe int")
    probes = (probes_ranked.join(F.broadcast(npdf),
                                 F.col("rn") <= F.col("nprobe"))
              .select("nprobe", "qid", "centroid_id"))

    books = ann.pq_codebooks(emb, _PQ_M, _PQ_K)
    codes = ann.pq_encode(emb, books).select(
        "vec_id", *[f"pq_code_{m + 1}" for m in range(_PQ_M)])
    assigned = ann.ivf_assign(emb, cent).select("vec_id", "centroid_id")

    sp = _pq_qv_score(books)
    w = Window.partitionBy("nprobe", "qid").orderBy(
        sp.desc(), F.col("vec_id").asc())
    pq_ranked = (assigned.join(F.broadcast(probes), "centroid_id")
                 .join(codes, "vec_id")
                 .join(F.broadcast(q), "qid")
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= max_rank)
                 .select("nprobe", "qid", "vec_id", "rn"))
    return emb, q, exact, npdf, pq_ranked


def _frontier_result(q, base_keys, base, hits):
    """Shared tail: per-level hit totals -> mean recall, ordered."""
    return (base.join(hits, base_keys + ["qid"], "left")
            .groupBy(*base_keys)
            .agg(F.sum(F.coalesce("n_hits", F.lit(0))).cast("long")
                 .alias("n_hits_total"),
                 F.round(F.sum(F.coalesce("n_hits", F.lit(0)))
                         / float(len(_RECALL_QIDS) * _RECALL_K), 6)
                 .alias("mean_recall"))
            .orderBy(*base_keys))



@query(
    "ann_ivf_pq_nprobe_frontier",
    survey="north-star ANN (recall/candidate-volume frontier: IVF×PQ "
           "recall@10 swept over nprobe 1/2/4/8 in ONE job — the tuning "
           "curve for the probe-bound regime the self-evals measured)",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    nprobes AS (SELECT * FROM (VALUES (1), (2), (4), (8)) AS t(nprobe)),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probes_ranked AS (
      SELECT qid, centroid_id, rn FROM (
        SELECT q.qid, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_sq_l2('c.centroid', 'q.qv')} ASC,
                          c.centroid_id ASC) AS rn
        FROM cent c CROSS JOIN q) t
      WHERE rn <= {max(_FRONTIER_NPROBES)}),
    probes AS (
      SELECT n.nprobe, p.qid, p.centroid_id
      FROM probes_ranked p JOIN nprobes n ON p.rn <= n.nprobe),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte(m) for m in range(_PQ_M))},
    tier AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT p.nprobe, p.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.nprobe, p.qid
                 ORDER BY ROUND(1.0 - (0.0 + {_PQ_QDISTS_Q}), 6) DESC,
                          e.vec_id ASC) AS rn
        FROM assigned a
        JOIN probes p USING (centroid_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        {_PQ_JOINS}
        JOIN q ON q.qid = p.qid) t
      WHERE rn <= {_RECALL_K}),
    hits AS (
      SELECT t.nprobe, t.qid, COUNT(*) AS n_hits
      FROM exact JOIN tier t USING (qid, vec_id)
      GROUP BY t.nprobe, t.qid),
    base AS (SELECT n.nprobe, q.qid FROM nprobes n CROSS JOIN q)
    SELECT b.nprobe,
           CAST(SUM(COALESCE(h.n_hits, 0)) AS BIGINT) AS n_hits_total,
           ROUND(SUM(COALESCE(h.n_hits, 0))
                 / {float(len(_RECALL_QIDS) * _RECALL_K)}, 6)
             AS mean_recall
    FROM base b LEFT JOIN hits h ON h.nprobe = b.nprobe AND h.qid = b.qid
    GROUP BY b.nprobe
    ORDER BY b.nprobe
    """,
)
def ann_ivf_pq_nprobe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF×PQ path at nprobe ∈ {1,2,4,8}, 5 queries, ONE
    job. The probe ranking is computed once (window over the broadcast
    centroid×query cross — centroid-count-sized); each sweep level is a
    rank filter, so the corpus-side work (assignment + code ranking) runs
    once per (nprobe, probed-cell) combination via one equi-join, not once
    per sweep level. Mean recall per nprobe is the published frontier
    number; SCALE.md §36 pairs it with measured candidate volume. At
    100 TB this is exactly the offline tuning job that picks production
    nprobe: same scan shape as serving, with the exact ranking as truth."""
    emb, q, exact, npdf, pq_ranked = _pq_frontier_ranked(
        spark, sf_dir, _RECALL_K)
    tier = pq_ranked.select("nprobe", "qid", "vec_id")
    hits = (exact.join(tier, ["qid", "vec_id"])
            .groupBy("nprobe", "qid").agg(F.count(F.lit(1)).alias("n_hits")))
    # single-partition sides: a CartesianProduct inherits nL x nR
    # partitions, so two 32-partition inputs would schedule 1024 tasks
    # for an 8-row result
    base = npdf.coalesce(1).crossJoin(q.select("qid").coalesce(1))
    return _frontier_result(q, ["nprobe"], base, hits)


# The flat frontier above is itself a finding: recall on this fixture is
# CODE-bound (PQ false positives displace true neighbors as nprobe grows).
# The standard fix is ADC with re-ranking (Jégou et al. 2011 §IV.E —
# IVFADC+R, public): over-fetch C candidates by code distance, exact-rescore
# only those. Measured here: recall rises 0.12-flat → 0.28→0.42 with
# nprobe at C=100 (SCALE.md §36). This is the same prune-then-rescore
# funnel the SQ8/binary/Matryoshka tiers already use.

_FRONTIER_CANDS = (50, 100)


@query(
    "ann_ivf_pq_rescore_frontier",
    survey="north-star ANN (IVFADC+R 2-D tuning frontier: recall@10 swept "
           "over nprobe × rescore-candidate-count in ONE job — the "
           "offline job that picks production (nprobe, C))",
    oracle=f"""
    WITH {_SQL_RECALL_Q},
    {_SQL_RECALL_EXACT},
    nprobes AS (SELECT * FROM (VALUES (1), (2), (4), (8)) AS t(nprobe)),
    cands AS (SELECT * FROM (VALUES (50), (100)) AS t(candidates)),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probes_ranked AS (
      SELECT qid, centroid_id, rn FROM (
        SELECT q.qid, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sql_sq_l2('c.centroid', 'q.qv')} ASC,
                          c.centroid_id ASC) AS rn
        FROM cent c CROSS JOIN q) t
      WHERE rn <= {max(_FRONTIER_NPROBES)}),
    probes AS (
      SELECT n.nprobe, p.qid, p.centroid_id
      FROM probes_ranked p JOIN nprobes n ON p.rn <= n.nprobe),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    cw AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    {",".join(_pq_code_cte(m) for m in range(_PQ_M))},
    pq_ranked AS (
      SELECT nprobe, qid, vec_id, rn FROM (
        SELECT p.nprobe, p.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.nprobe, p.qid
                 ORDER BY ROUND(1.0 - (0.0 + {_PQ_QDISTS_Q}), 6) DESC,
                          e.vec_id ASC) AS rn
        FROM assigned a
        JOIN probes p USING (centroid_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        {_PQ_JOINS}
        JOIN q ON q.qid = p.qid) t
      WHERE rn <= {max(_FRONTIER_CANDS)}),
    tier AS (
      SELECT candidates, nprobe, qid, vec_id FROM (
        SELECT c.candidates, pr.nprobe, pr.qid, pr.vec_id,
               row_number() OVER (
                 PARTITION BY c.candidates, pr.nprobe, pr.qid
                 ORDER BY ROUND(1.0 - {sql_sq_l2('e.embedding', 'q.qv')}, 6)
                            DESC, pr.vec_id ASC) AS rn2
        FROM pq_ranked pr
        JOIN cands c ON pr.rn <= c.candidates
        JOIN embeddings e ON e.vec_id = pr.vec_id
        JOIN q ON q.qid = pr.qid) t
      WHERE rn2 <= {_RECALL_K}),
    hits AS (
      SELECT t.candidates, t.nprobe, t.qid, COUNT(*) AS n_hits
      FROM exact JOIN tier t USING (qid, vec_id)
      GROUP BY t.candidates, t.nprobe, t.qid),
    base AS (SELECT c.candidates, n.nprobe, q.qid
             FROM cands c CROSS JOIN nprobes n CROSS JOIN q)
    SELECT b.candidates, b.nprobe,
           CAST(SUM(COALESCE(h.n_hits, 0)) AS BIGINT) AS n_hits_total,
           ROUND(SUM(COALESCE(h.n_hits, 0))
                 / {float(len(_RECALL_QIDS) * _RECALL_K)}, 6)
             AS mean_recall
    FROM base b LEFT JOIN hits h
      ON h.candidates = b.candidates AND h.nprobe = b.nprobe
         AND h.qid = b.qid
    GROUP BY b.candidates, b.nprobe
    ORDER BY b.candidates, b.nprobe
    """,
)
def ann_ivf_pq_rescore_frontier(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """IVFADC+R frontier: PQ-rank once per (nprobe, qid) up to max(C),
    then each (C, nprobe) level is a rank filter followed by an exact
    rescore of ONLY those C candidates — the expensive full-vector read
    touches C rows per query per level, never the corpus. The 2-D output
    (candidates × nprobe → mean recall) is the production tuning surface;
    the un-rescored sibling (ann_ivf_pq_nprobe_frontier) pins the
    code-bound baseline it improves on."""
    from pyspark.sql import Window

    emb, q, exact, npdf, pq_ranked = _pq_frontier_ranked(
        spark, sf_dir, max(_FRONTIER_CANDS))
    cdf = spark.createDataFrame([(c,) for c in _FRONTIER_CANDS],
                                "candidates int")
    rescored = (pq_ranked.join(F.broadcast(cdf),
                               F.col("rn") <= F.col("candidates"))
                .join(emb.select("vec_id", "embedding"), "vec_id")
                .join(F.broadcast(q), "qid")
                .withColumn("s", exact_score("qv", "embedding")))
    w2 = Window.partitionBy("candidates", "nprobe", "qid").orderBy(
        F.col("s").desc(), F.col("vec_id").asc())
    tier = (rescored.withColumn("rn2", F.row_number().over(w2))
            .filter(F.col("rn2") <= _RECALL_K)
            .select("candidates", "nprobe", "qid", "vec_id"))
    hits = (exact.join(tier, ["qid", "vec_id"])
            .groupBy("candidates", "nprobe", "qid")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    base = (cdf.coalesce(1).crossJoin(npdf.coalesce(1))
            .crossJoin(q.select("qid").coalesce(1)))
    return _frontier_result(q, ["candidates", "nprobe"], base, hits)


# ---------------------------------------------------------------------------
# streaming IVF index maintenance: incremental cell-partitioned appends

@query(
    "streaming_ann_index_upkeep",
    survey="I/C1-adjacent (incremental IVF index maintenance: streaming "
           "batches assigned to cells against a FIXED coarse quantizer and "
           "committed as idempotent per-batch partitions — the index grows "
           "without a rebuild; serving probes across every batch)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC, centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1)
    SELECT a.vec_id, a.label, a.centroid_id,
           ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
             AS score
    FROM assigned a
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id ASC LIMIT 5
    """,
)
def streaming_ann_index_upkeep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-index ingestion story the reference handles with per-call
    HNSW inserts (chromadb add, `app.py:190-214`), re-expressed as a table
    maintenance protocol: embedding batches arrive on a stream, foreachBatch
    assigns each vector to its IVF cell against a FIXED coarse quantizer
    (`ivf_assign` — narrow projection, no shuffle) and commits the batch as
    ``ingest_batch=<id>/centroid_id=<cell>`` partitions via dynamic partition
    overwrite. Replaying a batch (Structured Streaming's at-least-once
    regime, simulated below by re-committing batch 0) overwrites the SAME
    partitions — idempotent by layout, no dedup join, no table lock. A blind
    append here would surface duplicate rows in the served kNN result and
    break this query's oracle hash, so exactly-once is part of the checked
    contract, not a side claim.

    Serving reads ONLY the probed cells (partition pruning on centroid_id
    works under every ingest_batch directory), so query cost tracks cell
    selectivity, not corpus size or batch count. At 100 TB: ingest is one
    narrow write per batch; a periodic compaction can fold
    ``ingest_batch=*/centroid_id=c`` into larger files without changing the
    read contract; the quantizer is retrained only when drift warrants a
    versioned reindex (same oracle, new layout) — this is how Milvus/Lance
    segment-based vector stores grow, minus the bespoke formats.
    """
    import os as _os

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    root = scratch_dir("ivf_stream_")
    src = _os.path.join(root, "src")
    chk = _os.path.join(root, "chk")
    index = _os.path.join(root, "index")
    # four source files -> four micro-batches (maxFilesPerTrigger=1)
    emb.repartitionByRange(4, "vec_id").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def commit_batch(batch_df, batch_id):
        assigned = ann.ivf_assign(batch_df, centroids)
        (assigned.withColumn("ingest_batch", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("ingest_batch", "centroid_id").parquet(index))

    with state_partitions(spark):
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.foreachBatch(commit_batch)
             .option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # simulated at-least-once replay: re-commit batch 0's exact rows under
    # its original batch id — dynamic overwrite of the same partitions.
    # localCheckpoint materializes the rows FIRST so the overwrite never
    # reads the very files it is replacing (ADVICE r4: the read-then-
    # overwrite-same-path job worked on this Spark build only because of
    # write staging order — decouple it explicitly).
    batch0 = (spark.read.parquet(index)
              .filter(F.col("ingest_batch") == 0)
              .select("vec_id", "embedding", "label")
              .localCheckpoint(eager=True))
    commit_batch(batch0, 0)

    qv = _vec(spark, sf_dir, _QUERY_ID)
    return (ann.ivf_knn_indexed(spark, index, centroids, qv,
                                k=5, nprobe=_NPROBE)
            .select("vec_id", "label", "centroid_id", "score"))


@query(
    "ann_index_compaction_invariance",
    survey="A5/C1-adjacent (vector-index compaction: fold per-batch cell "
           "partitions into one file set per cell; serving result is "
           "bit-identical before and after — the read contract is the "
           "partition column, not the file layout)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC, centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    served AS (
      SELECT a.vec_id, a.label, a.centroid_id,
             ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score
      FROM assigned a
      WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
      ORDER BY score DESC, a.vec_id ASC LIMIT 5)
    SELECT phase, vec_id, label, centroid_id, score
    FROM served, (VALUES ('before'), ('after')) AS p(phase)
    ORDER BY phase, score DESC, vec_id ASC
    """,
)
def ann_index_compaction_invariance(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The maintenance step `streaming_ann_index_upkeep`'s docstring
    promises: many small ``ingest_batch=*/centroid_id=c`` files (the
    streaming-append tax) folded into ONE file set per cell, with serving
    provably unchanged — both phases are served through the same probe path
    and the oracle pins both to the identical kNN rows. At 100 TB this is
    the background job that keeps probe-side file listings O(cells), not
    O(cells × batches); it commutes with ingest because compaction writes a
    NEW directory and the swap is a pointer move (snapshot-store pattern).
    """
    import os as _os

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    root = scratch_dir("ivf_compact_")
    fragmented = _os.path.join(root, "frag")
    compacted = _os.path.join(root, "compact")
    # four per-batch commits -> fragmented multi-batch layout
    assigned = ann.ivf_assign(emb, centroids)
    (assigned.withColumn("ingest_batch",
                         (F.col("vec_id") % 4).cast("int"))
     .write.partitionBy("ingest_batch", "centroid_id").parquet(fragmented))

    qv = _vec(spark, sf_dir, _QUERY_ID)

    def serve(path):
        return (ann.ivf_knn_indexed(spark, path, centroids, qv,
                                    k=5, nprobe=_NPROBE)
                .select("vec_id", "label", "centroid_id", "score"))

    before = serve(fragmented)
    # compaction: one coalesced file set per cell, batch dimension folded
    (spark.read.parquet(fragmented).drop("ingest_batch")
     .repartition("centroid_id")
     .write.partitionBy("centroid_id").parquet(compacted))
    after = serve(compacted)
    return (before.withColumn("phase", F.lit("before"))
            .unionByName(after.withColumn("phase", F.lit("after")))
            .select("phase", "vec_id", "label", "centroid_id", "score")
            .orderBy("phase", F.col("score").desc(), F.col("vec_id").asc()))


# --- PCA pre-transform tier (Faiss-style PCAR rotation funnel) --------------

_PCA_DIM = 16
_PCA_CAND = 25


def _pca_comps(spark, sf_dir):
    """Fitted components, memoized per sf (an index artifact: identical
    bytes on every rebuild of the same immutable input)."""
    return _memo(("pca_components", sf_dir),
                 lambda: ann.pca_components(
                     tbl(spark, sf_dir, "embeddings"), _PCA_DIM))


@query(
    "ann_pca_knn",
    survey="north-star ANN (PCA pre-transform tier: MLlib-fitted rotation, "
           "rank in the 16-component space, exact rescore — pinned by "
           "hash-checked invariants: k rows, self-hit at score 1, "
           "orthonormal components)",
    oracle=f"""
    SELECT CAST(5 AS BIGINT) AS n_rows, TRUE AS self_found,
           CAST(1.0 AS DOUBLE) AS self_score,
           CAST({_PCA_DIM} AS BIGINT) AS out_dim, TRUE AS orthonormal
    """,
)
def ann_pca_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-rotation funnel (the Faiss ``PCAR{d}`` pre-transform composed
    with a flat rescore): rank the corpus on squared-L2 over the 16
    leading principal components, exact-rescore the over-fetched
    candidates. Unlike the Matryoshka tier this needs no cooperation from
    the embedding model — the rotation is fitted to the corpus itself and
    is the information-optimal linear truncation. LAPACK eigenvectors are
    not SQL-reproducible, so the hash-checked contract is the invariant
    set (the ``pq_codebooks_kmeans`` pattern): 5 rows return; the query's
    own vector is found at exact score 1.0 (rank-preserving rescore);
    the fitted matrix is dim x 16 and orthonormal to 1e-9 (a PCA-fit
    regression — wrong centering, degenerate columns — flips it). Recall
    quality is bounded separately by ``ann_pca_recall_at_k``."""
    import numpy as np

    emb = tbl(spark, sf_dir, "embeddings")
    comps = _pca_comps(spark, sf_dir)
    pc = np.asarray(comps)
    ortho = bool(np.abs(pc.T @ pc - np.eye(_PCA_DIM)).max() < 1e-9)
    out = (ann.pca_knn(emb, _vec(spark, sf_dir, _QUERY_ID), comps,
                       k=5, candidates=_PCA_CAND)
           .localCheckpoint(eager=True))
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max((F.col("vec_id") == _QUERY_ID).cast("int")).cast("boolean")
        .alias("self_found"),
        F.max(F.when(F.col("vec_id") == _QUERY_ID, F.col("score")))
        .cast("double").alias("self_score"),
        F.lit(len(pc[0])).cast("long").alias("out_dim"),
        F.lit(ortho).alias("orthonormal"))


@query(
    "ann_pca_recall_at_k",
    survey="north-star ANN (PCA tier self-evaluation: recall@10 of the "
           "16-component rotated ranking vs exact, pinned by a "
           "hash-checked mean-recall floor over the query panel)",
    oracle=f"""
    SELECT CAST({len(_RECALL_QIDS)} AS BIGINT) AS n_queries,
           TRUE AS mean_recall_ge_012, TRUE AS recalls_in_range
    """,
)
def ann_pca_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PCA-rotated ranking vs the exact ranking over the
    standard 5-query panel, in one job: corpus and panel are both
    projected by the same Arrow-batched matmul, the panel rides broadcast,
    and per-query top-k is a partial window — no corpus re-scan per query.
    Hash-pinned floor: mean recall@10 >= 0.12 (measured 0.30 at sf0.001 /
    0.36 at sf0.01; chance is 10/n <= 0.02) and every per-query recall in
    [0, 1] — a projection regression (dropped centering, truncated to
    noise components) reds the row."""
    from pyspark.sql import Window

    emb, q, exact = _recall_parts(spark, sf_dir)
    comps = _pca_comps(spark, sf_dir)
    red = ann.pca_project(emb, comps, out_col="_red")
    qred = (ann.pca_project(q, comps, vec_col="qv", out_col="_qred")
            .select("qid", "_qred"))
    sc = exact_score("_qred", "_red")
    w = Window.partitionBy("qid").orderBy(sc.desc(), F.col("vec_id").asc())
    tier = (red.crossJoin(F.broadcast(qred))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id"))
    per_q = _recall_result(q, exact, tier)
    rc = F.col(f"recall_at_{_RECALL_K}")
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg(rc) >= 0.12).alias("mean_recall_ge_012"),
        ((F.min(rc) >= 0.0) & (F.max(rc) <= 1.0))
        .alias("recalls_in_range"))


# ---------------------------------------------------------------------------
# Tombstone delete semantics on the materialized IVF index

_TOMB_RANKS = (2, 3)     # delete the 2nd and 3rd ranked hits (self is 1st)


@query(
    "ann_index_tombstone_semantics",
    survey="north-star ANN (index delete lifecycle: tombstoned vectors "
           "must vanish from serving immediately, compaction rewrites "
           "ONLY the touched cells and serves identically with the "
           "tombstone table gone — the delete half of the index "
           "upkeep/compaction contract)",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centroid
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
    probe AS (
      SELECT centroid_id FROM cent
      ORDER BY {sql_sq_l2('centroid', _sql_qv(_QUERY_ID))} ASC,
               centroid_id ASC
      LIMIT {_NPROBE}),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sql_sq_l2('e.embedding', 'c.centroid')} ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    scored AS (
      SELECT a.vec_id, a.label, a.centroid_id,
             ROUND(1.0 - {sql_sq_l2('a.embedding', _sql_qv(_QUERY_ID))}, 6)
               AS score
      FROM assigned a
      WHERE a.centroid_id IN (SELECT centroid_id FROM probe)),
    before AS (
      SELECT *, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rnk
      FROM scored QUALIFY rnk <= 5),
    deleted AS (
      SELECT vec_id FROM before
      WHERE rnk IN ({", ".join(str(r) for r in _TOMB_RANKS)})),
    after AS (
      SELECT *, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rnk
      FROM scored WHERE vec_id NOT IN (SELECT vec_id FROM deleted)
      QUALIFY rnk <= 5)
    SELECT 'before' AS phase, vec_id, label, centroid_id, score
    FROM before
    UNION ALL
    SELECT 'compacted' AS phase, vec_id, label, centroid_id, score
    FROM after
    UNION ALL
    SELECT 'tombstoned' AS phase, vec_id, label, centroid_id, score
    FROM after
    ORDER BY phase, score DESC, vec_id
    """,
)
def ann_index_tombstone_semantics(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Delete lifecycle on the materialized IVF index: (1) tombstoned
    vectors disappear from serving the moment the tombstone table lands
    (serving anti-joins it — no index rewrite on the delete path);
    (2) compaction later rewrites ONLY the cells containing tombstoned
    rows (cell-pruned dynamic partition overwrite, the scd2/ann-upkeep
    discipline) and post-compaction serving — tombstone table empty —
    hash-equals the tombstoned phase, with the next-best candidates
    promoted into the top-k. The oracle derives the deleted set (ranks
    2-3 of the before ranking) and both rankings independently.

    Scale shape: the delete path writes a tombstone row, not an index
    rewrite; serving cost adds one small anti-join; compaction touches
    |cells(deleted)| partitions, never the index."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = (emb.filter(F.col("vec_id") < _N_CENTROIDS)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    path = scratch_dir("ivf_tomb_")
    ann.write_ivf_index(emb, centroids, path)
    qv = _vec(spark, sf_dir, _QUERY_ID)

    def serve(df):
        return ann.ivf_knn(df.drop("centroid_id"), centroids, qv,
                           k=5, nprobe=_NPROBE)

    index = spark.read.parquet(path)
    before = serve(index).localCheckpoint(eager=True)
    ranked = (before.orderBy(F.col("score").desc(), "vec_id")
              .collect())
    deleted = [ranked[r - 1]["vec_id"] for r in _TOMB_RANKS]

    tombstoned = serve(index.filter(~F.col("vec_id").isin(deleted))) \
        .localCheckpoint(eager=True)

    # compaction: rewrite only the touched cells without the deleted rows
    touched = [r["centroid_id"] for r in
               index.filter(F.col("vec_id").isin(deleted))
               .select("centroid_id").distinct().collect()]
    rewritten = (index.filter(F.col("centroid_id").isin(touched)
                              & ~F.col("vec_id").isin(deleted))
                 .localCheckpoint(eager=True))
    (rewritten.write.mode("overwrite").partitionBy("centroid_id")
     .option("partitionOverwriteMode", "dynamic").parquet(path))
    compacted = serve(spark.read.parquet(path))

    def tag(df, phase):
        return df.select(F.lit(phase).alias("phase"), "vec_id", "label",
                         "centroid_id", "score")

    return (tag(before, "before")
            .unionByName(tag(tombstoned, "tombstoned"))
            .unionByName(tag(compacted, "compacted"))
            .orderBy("phase", F.col("score").desc(), "vec_id"))


# ---------------------------------------------------------------------------
# submodular facility-location coreset (round 9)

_FL_POOL = 40          # candidate exemplars: vec_id < 40
_FL_UNIVERSE = 200     # coverage universe: vec_id < 200
_FL_K = 5


def _fl_sql() -> str:
    """Unrolled greedy facility-location rounds (the _mmr_sql pattern):
    each pick is an exact-integer argmax; coverage state is recomputed
    per round from the selected set."""
    parts = [f"""
    pool AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id < {_FL_POOL}),
    univ AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id < {_FL_UNIVERSE}),
    sims AS MATERIALIZED (
      SELECT p.vec_id AS c, u.vec_id AS v,
             CAST(ROUND(GREATEST(
               CASE WHEN {sql_l2_norm('u.embedding')}
                         * {sql_l2_norm('p.embedding')} = 0.0 THEN 0.0
                    ELSE {sql_dot('u.embedding', 'p.embedding')}
                         / ({sql_l2_norm('u.embedding')}
                            * {sql_l2_norm('p.embedding')}) END, 0.0)
               * 1000000) AS BIGINT) AS s
      FROM pool p, univ u)"""]
    sel: list[str] = []
    for r in range(1, _FL_K + 1):
        if sel:
            in_list = ", ".join(f"(SELECT c FROM p{i})" for i in sel)
            parts.append(f"""
    cov{r} AS (SELECT v, MAX(s) AS cv FROM sims
               WHERE c IN ({in_list}) GROUP BY v),
    p{r} AS (
      SELECT s.c,
             CAST(SUM(GREATEST(s.s - COALESCE(cv.cv, 0), 0)) AS BIGINT)
               AS g
      FROM sims s LEFT JOIN cov{r} cv ON s.v = cv.v
      WHERE s.c NOT IN ({in_list})
      GROUP BY s.c ORDER BY g DESC, s.c ASC LIMIT 1),
    tot{r} AS (
      SELECT CAST(SUM(cv) AS BIGINT) AS t FROM (
        SELECT v, MAX(s) AS cv FROM sims
        WHERE c IN ({in_list}, (SELECT c FROM p{r})) GROUP BY v))""")
        else:
            parts.append(f"""
    p{r} AS (
      SELECT c, CAST(SUM(s) AS BIGINT) AS g
      FROM sims GROUP BY c ORDER BY g DESC, c ASC LIMIT 1),
    tot{r} AS (
      SELECT CAST(SUM(cv) AS BIGINT) AS t FROM (
        SELECT v, MAX(s) AS cv FROM sims
        WHERE c = (SELECT c FROM p{r}) GROUP BY v))""")
        sel.append(str(r))
    unions = "\n      UNION ALL ".join(
        f"SELECT {r} AS rank, (SELECT c FROM p{r}) AS vec_id, "
        f"(SELECT g FROM p{r}) AS gain_micro, "
        f"(SELECT t FROM tot{r}) AS coverage_micro" for r in range(1, _FL_K + 1))
    return ("WITH " + ",".join(parts)
            + f"\n    SELECT * FROM ({unions}) ORDER BY rank")


@query(
    "embedding_facility_location_coreset",
    survey="curation extension(submodular facility-location data-subset "
           "selection, Lin & Bilmes 2011: greedy coverage-maximizing "
           "exemplars over embedding similarity — exact micro-int gains, "
           "pool broadcast vs corpus-sized universe)",
    oracle=_fl_sql(),
)
def embedding_facility_location_coreset(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Pick the 5 exemplar vectors (from a 40-candidate pool) that best
    COVER a 200-vector universe: greedy maximization of
    F(S) = Σ_v max_{s∈S} sim(v, s) — the submodular facility-location
    objective used for training-data coreset/exemplar selection (Lin &
    Bilmes 2011; lazy/stochastic variants scale the pool). Marginal
    gains are exact BIGINT micro-units (per-pair sim rounded once, then
    integer arithmetic only), so both engines pick identical exemplars
    with identical gain/coverage numbers; gains are non-increasing by
    submodularity (the oracle's rows double as that proof). Scale shape:
    the pool broadcasts against the universe; similarities are computed
    once and checkpointed; each round is one partial-aggregable SUM per
    candidate — see operators/ann.facility_location_select."""
    emb = tbl(spark, sf_dir, "embeddings")
    return ann.facility_location_select(
        emb.filter(F.col("vec_id") < _FL_UNIVERSE),
        emb.filter(F.col("vec_id") < _FL_POOL),
        _FL_K)
