"""k-NN operator tests (SURVEY.md §2 C1/C2, B3, F1/F2) + score contract."""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.operators.knn import (
    knn_join,
    knn_topk,
)


# The Column-form vector kernels the library shipped before its one SQL-text
# form (functions/vector.py). Kept here, frozen, as the specs the SQL text
# is pinned to bit-for-bit; do not edit.

def _d(c):
    return c.cast("double")


def frozen_squared_l2(a, b):
    diffs = F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y)))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def frozen_dot(a, b):
    prods = F.zip_with(a, b, lambda x, y: _d(x) * _d(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def frozen_l2_norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: _d(x) * _d(x)), F.lit(0.0),
        lambda acc, x: acc + x))


def frozen_l2_normalize(a):
    def by_norm(r):
        return F.transform(F.array(frozen_l2_norm(r)), lambda n: F.when(
            n == 0.0, F.transform(r, lambda x: _d(x))
        ).otherwise(F.transform(r, lambda x: _d(x) / n)))[0]

    return F.transform(F.array(a), by_norm)[0]


def frozen_cosine_similarity(a, b):
    denom = frozen_l2_norm(a) * frozen_l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(frozen_dot(a, b) / denom)


def _query_vec(tables):
    return tables["embeddings"].filter(F.col("vec_id") == 0) \
        .select("embedding").first()[0]


def test_score_contract_golden(spark):
    """score = 1 - squared_l2 exactly (reference app.py:418); golden values."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    out = knn_topk(df, [1.0, 0.0], k=10, threshold=None, score_decimals=None)
    scores = {r["vec_id"]: r["score"] for r in out.collect()}
    assert scores[1] == 1.0                        # d2 = 0
    assert scores[2] == 1.0 - 2.0                  # d2 = 2
    assert math.isclose(scores[3], 1.0 - 0.5)      # d2 = .25+.25


def test_self_match_is_top1(tables):
    q = _query_vec(tables)
    top = knn_topk(tables["embeddings"], q, k=1).collect()
    assert len(top) == 1
    assert top[0]["vec_id"] == 0
    assert math.isclose(top[0]["score"], 1.0, abs_tol=1e-6)


def test_threshold_and_order(tables):
    q = _query_vec(tables)
    rows = knn_topk(tables["embeddings"], q, k=50,
                    threshold=config.SIMILARITY_THRESHOLD).collect()
    scores = [r["score"] for r in rows]
    assert all(s >= config.SIMILARITY_THRESHOLD for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_k_minus_one_falls_back_to_search_k(tables):
    # reference vector_store.py:141,158 - k=-1 -> SEARCH_K (=1)
    q = _query_vec(tables)
    assert knn_topk(tables["embeddings"], q, k=-1).count() == config.SEARCH_K


def test_metadata_prefilter(tables):
    """B1: the where-filter restricts candidates BEFORE top-k."""
    q = _query_vec(tables)
    rows = knn_topk(tables["embeddings"], q, k=5,
                    where={"label": {"$eq": 1}}).collect()
    emb = tables["embeddings"]
    labels = {r["label"] for r in rows}
    assert labels == {1}


def test_knn_join_matches_per_query_topk(tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    joined = knn_join(queries, emb, k=4)
    got = {(r["query_id"], r["vec_id"]) for r in joined.collect()}
    # each query's own vector must be its top hit; 4 hits per query
    for qid in (0, 1, 2):
        assert (qid, qid) in got
        assert sum(1 for g in got if g[0] == qid) == 4


def test_sq8_quantize_error_bound(tables):
    """SQ8 element error <= max|x|/254 per vector (half a quantization step)."""
    from server2_vector_search_server_spark.operators.ann import sq8_quantize

    emb = tables["embeddings"].limit(50)
    rows = sq8_quantize(emb).collect()
    for r in rows:
        scale = r["sq8_scale"]
        for orig, q in zip(r["embedding"], r["qvec"]):
            assert abs(q) <= 127
            assert abs(float(orig) - q / scale) <= 0.5 / scale + 1e-12


def test_sq8_knn_matches_exact_topk(tables):
    """Quantization error is far below the synthetic corpus's inter-vector
    distances, so SQ8 ranking must reproduce the exact top-k here."""
    from server2_vector_search_server_spark.operators.ann import sq8_knn

    q = _query_vec(tables)
    exact = [r["vec_id"] for r in
             knn_topk(tables["embeddings"], q, k=5).collect()]
    sq8 = sq8_knn(tables["embeddings"], q, k=5).collect()
    assert [r["vec_id"] for r in
            sorted(sq8, key=lambda r: (-r["score_sq8"], r["vec_id"]))] == exact
    for r in sq8:
        assert abs(r["score"] - r["score_sq8"]) < 1e-2


def test_pq_encode_codewords_self_map(tables):
    """A codebook-anchor vector encodes to its own codeword id in EVERY
    subspace (distance 0 to itself), and all codes stay in [1, K]."""
    from server2_vector_search_server_spark.operators.ann import (
        pq_codebooks,
        pq_encode,
    )

    emb = tables["embeddings"]
    books = pq_codebooks(emb, 4, 8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16
    enc = pq_encode(emb, books)
    code_cols = [f"pq_code_{m}" for m in range(1, 5)]
    anchors = enc.filter(F.col("vec_id") < 8).select("vec_id", *code_cols)
    for r in anchors.collect():
        assert all(r[c] == r["vec_id"] + 1 for c in code_cols)
    from pyspark.sql.functions import max as fmax, min as fmin
    bounds = enc.agg(*[fmin(c).alias(f"lo{c}") for c in code_cols],
                     *[fmax(c).alias(f"hi{c}") for c in code_cols]).first()
    for m in range(1, 5):
        assert bounds[f"lopq_code_{m}"] >= 1
        assert bounds[f"hipq_code_{m}"] <= 8


def test_pq_knn_anchor_query_exact_for_anchor(tables):
    """Querying WITH an anchor vector: the anchor's PQ score equals its
    exact score (its reconstruction is itself)."""
    from server2_vector_search_server_spark.operators.ann import (
        pq_codebooks,
        pq_knn,
    )

    emb = tables["embeddings"]
    books = pq_codebooks(emb, 4, 8)
    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    rows = {r["vec_id"]: r for r in pq_knn(emb, q, books, k=50).collect()}
    assert 3 in rows                       # own cell ranks near the top
    assert rows[3]["score_pq"] == rows[3]["score"] == 1.0


def test_mmr_rerank_diversity_and_bounds(spark):
    """MMR picks the relevant-but-diverse set: two near-identical top
    candidates cannot BOTH be picked before a diverse one; k beyond the
    candidate count truncates instead of erroring."""
    from server2_vector_search_server_spark.operators.knn import mmr_rerank

    # rel: a1 highest, a2 a near-duplicate of a1, b diverse slightly lower
    cand = spark.createDataFrame(
        [(1, 0.99, [1.0, 0.0]),       # a1
         (2, 0.98, [0.999, 0.01]),    # a2 ~ duplicate of a1
         (3, 0.90, [0.0, 1.0])],      # b  orthogonal
        "vec_id long, rel double, embedding array<double>")
    out = mmr_rerank(cand, k=3, lam=0.5, lam_complement=0.5)
    picks = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert picks[0] == 1               # pure relevance first
    assert picks[1] == 3               # diversity beats the near-duplicate
    assert picks[2] == 2
    # k > candidates: graceful truncation
    assert mmr_rerank(cand, k=10, lam=0.5, lam_complement=0.5).count() == 3


def test_overfetch_rerank_funnel_contract(spark):
    """Stage 1 keeps exactly k*overfetch by COARSE (prefix) score; stage 2
    exact-rescores only those. A vector that is exact-best but outside the
    coarse top-2k must NOT surface — that asymmetry is the funnel contract
    (and the accuracy/cost trade the operator documents)."""
    from server2_vector_search_server_spark.operators.knn import (
        overfetch_rerank,
    )

    dim = 4
    q = [1.0, 1.0, 0.0, 0.0]
    rows = []
    # ids 0..5: perfect prefix match (first 2 dims == q), worsening tail:
    # coarse score 1.0 for all, exact score 1 - (0.1*i)^2
    for i in range(6):
        rows.append((i, [1.0, 1.0, 0.1 * i, 0.0]))
    # id 99: exact score 0.98 — better than ids 2..5 — but coarse (2-dim)
    # score 0.98 < the six 1.0s, so stage 1's top-4 cut excludes it
    rows.append((99, [0.9, 0.9, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = overfetch_rerank(emb, q, k=2, overfetch=2, coarse_dim=2).collect()
    got = [r["vec_id"] for r in out]
    assert got == [0, 1]                 # exact order among survivors
    assert 99 not in got                 # funnel excluded the bad-prefix row
    # sanity: 99 really is exact-better than candidate 3 (else the
    # exclusion assertion is vacuous)
    exact99 = 1.0 - (2 * 0.1 ** 2)
    exact3 = 1.0 - 0.3 ** 2
    assert exact99 > exact3
    assert all(set(r.asDict()) == {"vec_id", "coarse_score", "score"}
               for r in out)
    # widening the funnel to cover the corpus restores exactness
    out_full = overfetch_rerank(emb, q, k=2, overfetch=4,
                                coarse_dim=dim).collect()
    assert [r["vec_id"] for r in out_full] == [0, 1]


def test_squared_l2_sql_and_py_twins_bitwise(spark):
    """The SQL-text kernels (squared_l2, dot, cosine) and the Python
    constant fold of squared_l2 must be BITWISE identical to the frozen
    Column-form specs above — the SQL form replaced them purely to cut
    py4j round trips, never to change a double. Tricky values: non-dyadic
    decimals, tiny/huge magnitudes, negative zero, float32-boundary,
    subnormal."""
    import struct

    from server2_vector_search_server_spark.functions.vector import (
        cosine_sql, dot_sql, squared_l2_py, squared_l2_sql,
    )
    from server2_vector_search_server_spark.operators.knn import (
        exact_score, vector_literal_sql, vectors_literal_sql,
    )

    a = [0.1, -1.5e-7, 3.4e38, 1.0 / 3.0, -0.0, 5e-324, 2.0, -1e-200]
    b = [0.3, 7.7e-8, -3.4e38, 2.0 / 3.0, 0.0, -5e-324, 1.999999, 1e-200]
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>")
    # the shared exact score against its frozen Column spec on the same
    # values, whole and sliced past the 3.4e38 pair so rounding bites;
    # score_decimals=None is the unrounded score
    pairs = [(a, "b"), (a, "a"), (a[3:], "slice(b, 4, 5)"),
             (a[:2], "slice(b, 1, 2)")]
    spec = [F.lit(1.0) - frozen_squared_l2(F.expr(vector_literal_sql(q)),
                                           F.expr(v))
            for q, v in pairs]
    # dot and cosine over the same columns, both operand orders, and a
    # zero vector for cosine's zero-denominator guard
    kernel_pairs = [("a", "b"), ("b", "a"), ("a", "a"),
                    ("a", "transform(a, x -> 0.0D)")]
    row = df.select(
        frozen_squared_l2(F.col("a"), F.col("b")).alias("col_form"),
        F.expr(squared_l2_sql("a", "b")).alias("sql_form"),
        *[frozen_dot(F.expr(x), F.expr(y)).alias(f"dot_col_{i}")
          for i, (x, y) in enumerate(kernel_pairs)],
        *[F.expr(dot_sql(x, y)).alias(f"dot_sql_{i}")
          for i, (x, y) in enumerate(kernel_pairs)],
        *[frozen_cosine_similarity(F.expr(x), F.expr(y))
          .alias(f"cos_col_{i}") for i, (x, y) in enumerate(kernel_pairs)],
        *[F.expr(cosine_sql(x, y)).alias(f"cos_sql_{i}")
          for i, (x, y) in enumerate(kernel_pairs)],
        *[F.round(e, 6).alias(f"spec_{i}") for i, e in enumerate(spec)],
        *[e.alias(f"spec_raw_{i}") for i, e in enumerate(spec)],
        *[exact_score(vector_literal_sql(q), v).alias(f"shared_{i}")
          for i, (q, v) in enumerate(pairs)],
        *[exact_score(vector_literal_sql(q), v, None)
          .alias(f"shared_raw_{i}") for i, (q, v) in enumerate(pairs)],
    ).first()
    py = squared_l2_py(a, b)

    def bits(x):
        return struct.pack("<d", x)

    assert bits(row["col_form"]) == bits(row["sql_form"])
    assert bits(row["col_form"]) == bits(py)
    for i in range(len(pairs)):
        assert bits(row[f"shared_{i}"]) == bits(row[f"spec_{i}"]), i
        assert bits(row[f"shared_raw_{i}"]) == bits(row[f"spec_raw_{i}"]), i
    for i in range(len(kernel_pairs)):
        assert bits(row[f"dot_sql_{i}"]) == bits(row[f"dot_col_{i}"]), i
        assert bits(row[f"cos_sql_{i}"]) == bits(row[f"cos_col_{i}"]), i
    assert row["cos_sql_3"] == 0.0                  # guarded, not NaN

    # the nested literal builder round-trips every element exactly
    got = df.select(
        F.expr(vectors_literal_sql([a, b])).alias("v")).first()["v"]
    assert [bits(x) for x in got[0]] == [bits(x) for x in a]
    assert [bits(x) for x in got[1]] == [bits(x) for x in b]


def test_l2_normalize_norm_once_forms_bitwise(spark):
    """l2_normalize_sql binds its input and norm to lambda variables so each
    is evaluated once per row; it must stay bitwise identical to the frozen
    Column spec, to the per-element-norm form that spec replaced, and to
    the divide-by-guarded-norm form dedup hand-rolled (x / (n == 0 ? 1 :
    n)) — zero-vector guard, float input, NaN and null elements
    included."""
    import struct

    from server2_vector_search_server_spark.functions.vector import (
        l2_normalize_sql,
    )

    def old_form(a):
        n = frozen_l2_norm(a)
        return F.when(n == 0.0, F.transform(a, lambda x: x.cast("double"))) \
            .otherwise(F.transform(a, lambda x: x.cast("double") / n))

    def dedup_form(a):
        n = frozen_l2_norm(a)
        denom = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
        return F.transform(a, lambda x: x.cast("double") / denom)

    vecs = [[0.1, -1.5e-7, 1.0 / 3.0, -0.0, 5e-324, 2.0, -1e-200, 3.0],
            [0.0, 0.0, -0.0], [3.0, 4.0], [1e300, 1e300], [1.0, None],
            [], None, [float("nan"), 1.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, a array<double>")
    df = df.withColumn("f", F.col("a").cast("array<float>"))
    rows = df.select(
        "id",
        *[e.alias(f"{name}_{c}")
          for c in ("a", "f")
          for name, e in (("old", old_form(F.col(c))),
                          ("col", frozen_l2_normalize(F.col(c))),
                          ("dedup", dedup_form(F.col(c))),
                          ("sql", F.expr(l2_normalize_sql(c))))],
    ).collect()

    def bits(v):
        return None if v is None else [
            None if x is None else struct.pack("<d", x) for x in v]

    for r in rows:
        for c in ("a", "f"):
            assert bits(r[f"col_{c}"]) == bits(r[f"old_{c}"]), (r["id"], c)
            assert bits(r[f"dedup_{c}"]) == bits(r[f"old_{c}"]), (r["id"], c)
            assert bits(r[f"sql_{c}"]) == bits(r[f"old_{c}"]), (r["id"], c)
    zero = next(r for r in rows if r["id"] == 1)
    assert zero["col_a"] == [0.0, 0.0, -0.0]        # guarded, not NaN


def test_knn_operator_build_py4j_budget(spark, py4j_calls):
    """Plan-build cost guard: the k-NN operators score through the shared
    SQL-text exact score, so building each stays within a fixed budget of
    py4j round trips (measured 126, 126, 80 and 177 calls; a Column-form
    score costs 177 alone, and these builds took 375-619 calls with it;
    sq8_knn took 219 with its quantizer built from Column lambdas)."""
    from server2_vector_search_server_spark.operators.ann import (
        matryoshka_knn,
        sq8_knn,
    )
    from server2_vector_search_server_spark.operators.knn import (
        overfetch_rerank,
    )

    dim = 16
    rows = [(i, [float((i * 7 + j) % 23) / 10 for j in range(dim)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    q = rows[3][1]
    builds = {
        "overfetch_rerank": (
            lambda: overfetch_rerank(emb, q, k=3, coarse_dim=8), 150),
        "matryoshka_knn": (
            lambda: matryoshka_knn(emb, q, k=3, prefix_dim=8, candidates=6),
            150),
        "sq8_knn": (lambda: sq8_knn(emb, q, k=3), 100),
        "knn_join": (lambda: knn_join(queries, emb, k=3), 200),
    }
    calls = {name: py4j_calls(build) for name, (build, _) in builds.items()}
    assert all(0 < calls[name] <= budget
               for name, (_, budget) in builds.items()), calls
    # the budgeted builds are the real ones: the query is its own top hit
    for name in ("overfetch_rerank", "matryoshka_knn", "sq8_knn"):
        top = builds[name][0]().first()
        assert (top["vec_id"], top["score"]) == (3, 1.0), name
    hits = builds["knn_join"][0]().filter(F.col("rank") == 1).collect()
    assert sorted((h["query_id"], h["vec_id"]) for h in hits) == \
        [(0, 0), (1, 1), (2, 2)]
