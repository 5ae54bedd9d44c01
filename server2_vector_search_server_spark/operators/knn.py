"""k-NN similarity search (SURVEY.md §2 C1/C2 + B3 + F1/F2).

Reference behavior being reproduced (``/root/reference``):
  * ``vector_store.py:139-171`` — ``similarity_search[_with_score]``: embed
    query, optional metadata prefilter, HNSW top-k under squared-L2.
  * ``app.py:414-432`` — ``/search_score``: ``similarity = 1.0 - d²``, keep
    ``>= SIMILARITY_THRESHOLD`` (0.1), sort desc, serialize.
  * ``k == -1`` falls back to ``SEARCH_K`` (``vector_store.py:141,158``).

Spark plan shape (and why it scales):
  * Single query: filter (pushed into the scan) → per-row score expression
    (whole-stage codegen) → ``ORDER BY score DESC LIMIT k``. Catalyst plans
    ``TakeOrderedAndProject``: each partition keeps its local top-k, the
    driver merges k·P rows — no global sort, no full shuffle. This is exact
    brute force; it is embarrassingly parallel and beats index maintenance up
    to very large corpora. Beyond that, ``operators/ann.py`` provides
    LSH-bucketed approximate variants.
  * Many queries: broadcast the (small) query set, crossJoin against the
    corpus — Catalyst plans ``BroadcastNestedLoopJoin``, so the 100 TB corpus
    is scanned ONCE with no shuffle of the big side — then per-query top-k via
    ``row_number() OVER (PARTITION BY query_id ORDER BY ...)``, whose shuffle
    moves only (n_queries · corpus_fraction-that-survived-threshold) rows.

Determinism: ties broken by ``(score DESC, id ASC)`` (FIXTURES.md rule 4) so
top-k sets are stable across partitionings and match the DuckDB oracle.

This module is the one place that spells the ranking contract: the exact
score (:func:`exact_score`, over :func:`score_sql`), the ``(score DESC, id
ASC) LIMIT k`` tail (:func:`top_k`) and its per-query window form
(:func:`top_k_per_query`). Every operator here and every ANN tier in
``operators/ann.py`` ranks through these three pieces.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.functions.filters import apply_where
from server2_vector_search_server_spark.functions.vector import squared_l2_sql


def vector_literal_sql(vec: Sequence[float]) -> str:
    """SQL text of a query vector as a literal ``array<double>`` (broadcast
    in the plan — the Spark analog of the reference embedding the query
    once driver-side, ``vector_store.py:32``), for embedding in larger
    one-string expressions such as :func:`exact_score`.

    r10: ONE string parsed on the JVM — the old per-element ``F.lit``
    form cost dim+1 py4j round trips per vector (and ``F.lit(list)``
    pays the same: pyspark expands it element-wise), and the ANN pillars
    build dozens of these per query (4 codebooks × 8 codewords at PQ
    alone): profiled 1.3–2.4 s of driver-side plan BUILD time per
    ``pq_knn`` call, before Spark ever saw the plan. ``repr`` of
    a Python float is the shortest round-tripping decimal and Spark's
    ``D``-suffixed literal parses it back to the identical double, so the
    constant array is value-identical to the per-lit form."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def vectors_literal_sql(vecs: Sequence[Sequence[float]]) -> str:
    """SQL text for a literal ``array<array<double>>`` (a whole codebook):
    the nested-array analog of :func:`vector_literal_sql`, emitted as ONE
    string so a K-codeword book costs one ``F.expr`` parse instead of K+1
    py4j round trips (r11; same exact-repr round-trip argument)."""
    return "array(" + ",".join(vector_literal_sql(v) for v in vecs) + ")"


def _resolve_k(k: int) -> int:
    # reference vector_store.py:141,158 — k == -1 → config SEARCH_K
    return config.SEARCH_K if k == -1 else k


def score_sql(d2_sql: str,
              score_decimals: int | None = config.SCORE_DECIMALS) -> str:
    """SQL text of the reference score over a squared-distance expression:
    ``round(1 − d², score_decimals)`` (``app.py:418``; unrounded when
    ``score_decimals`` is None). The PQ tiers pass their table-lookup
    distance here; everything else goes through :func:`exact_score`."""
    sql = f"1.0D - ({d2_sql})"
    if score_decimals is None:
        return sql
    return f"round({sql}, {int(score_decimals)})"


def exact_score(query_sql: str, vec_sql: str,
                score_decimals: int | None = config.SCORE_DECIMALS) -> Column:
    """The exact score ``round(1 − ‖q − v‖², score_decimals)`` as ONE
    ``F.expr``. Both sides are SQL text: a literal from
    :func:`vector_literal_sql` or a (backquoted) column or array
    expression, so single-query and batch operators share it. The text is
    the expression tree of the retired Column form
    ``F.round(F.lit(1.0) - squared_l2(q, v), n)``, kept as a frozen spec in
    tests/test_knn.py, so scores are bitwise the same, at 3 py4j round
    trips to build instead of 177 for that form's three PySpark lambdas
    (16 dims)."""
    return F.expr(score_sql(squared_l2_sql(query_sql, vec_sql),
                            score_decimals))


def top_k(df: DataFrame, k: int, *, id_col: str,
          score_col: str = "score") -> DataFrame:
    """The ranking tail: ``ORDER BY score DESC, id ASC LIMIT k``. Catalyst
    plans ``TakeOrderedAndProject`` (per-partition partial top-k, no
    global sort). ``score_col`` lets candidate stages rank on their
    approximate score with the same tie-break."""
    return df.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)


def top_k_per_query(df: DataFrame, k: int, *, query_id_col: str,
                    id_col: str, rank_col: str = "rank") -> DataFrame:
    """The batch ranking tail: ``row_number() OVER (PARTITION BY query
    ORDER BY score DESC, id ASC) <= k`` on the ``score`` column, kept in
    ``rank_col``."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def knn_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = config.DEFAULT_API_K,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where: Mapping[str, Any] | None = None,
    threshold: float | None = None,
    score_decimals: int | None = config.SCORE_DECIMALS,
) -> DataFrame:
    """Exact scored top-k under the reference contract.

    Returns the corpus columns (minus the vector) plus ``score``; rows with
    ``score >= threshold`` (when given), ordered ``score DESC, id ASC``,
    limited to k. With ``threshold=config.SIMILARITY_THRESHOLD`` this is the
    full ``/search_score`` pipeline (``app.py:414-432``). The ANN tiers
    call it for their exact stages.
    """
    k = _resolve_k(k)
    scored = apply_where(corpus, where).withColumn("score", exact_score(
        vector_literal_sql(query_vec), f"`{vec_col}`", score_decimals)
    ).drop(vec_col)
    if threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(threshold)))
    return top_k(scored, k, id_col=id_col)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = config.DEFAULT_API_K,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    threshold: float | None = None,
    score_decimals: int | None = config.SCORE_DECIMALS,
) -> DataFrame:
    """Batch k-NN: top-k corpus rows per query row (many-query form of C1/C2).

    ``queries`` must be small enough to broadcast (it is the reference's
    one-query-at-a-time loop, batched). The corpus side is scanned once; the
    only shuffle is the per-query window over surviving candidates.
    """
    k = _resolve_k(k)
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec")))
    scored = (corpus.crossJoin(q)
              .withColumn("score", exact_score(
                  "__qvec", f"`{corpus_vec_col}`", score_decimals))
              .drop(corpus_vec_col, "__qvec"))
    if threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(threshold)))
    return (top_k_per_query(scored, k, query_id_col="__qid",
                            id_col=corpus_id_col)
            .withColumnRenamed("__qid", query_id_col))


def overfetch_rerank(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = config.DEFAULT_API_K,
    *,
    overfetch: int = 2,
    coarse_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = config.SCORE_DECIMALS,
) -> DataFrame:
    """The reference's F3 over-fetch-then-re-rank contract
    (``search_engine.py:23,48-51`` — fetch ``k*2`` candidates, rescore,
    emit top k), made non-vestigial: stage 1 ranks by a CHEAP coarse score
    (similarity on the first ``coarse_dim`` dims — a Matryoshka-style
    prefix), keeps ``k * overfetch`` candidates, and stage 2
    exact-rescores ONLY those.

    Scale shape: stage 1 is a TakeOrderedAndProject (per-partition partial
    top-k, no global sort) whose per-row ARITHMETIC is coarse_dim/dim of
    the full score; the scan still deserializes whole vectors — the I/O
    saving additionally requires a materialized prefix column, which is
    the Matryoshka tier's job (``ann.matryoshka_knn`` + SCALE.md §26),
    not this operator's. Stage 2 touches ``k*overfetch`` rows. The same
    funnel the SQ8/binary/PQ tiers use, at the API surface the reference
    stubbed.

    Output: corpus columns minus the vector, plus ``coarse_score`` and
    exact ``score``; ordered score DESC, id ASC, limit k.
    """
    k = _resolve_k(k)
    coarse = exact_score(vector_literal_sql(list(query_vec)[:coarse_dim]),
                         f"slice(`{vec_col}`, 1, {coarse_dim})",
                         score_decimals)
    cand = top_k(corpus.withColumn("coarse_score", coarse), k * overfetch,
                 id_col=id_col, score_col="coarse_score")
    return knn_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    *,
    lam: float = 0.7,
    lam_complement: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rel_col: str = "rel",
    score_decimals: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR '98
    — public): greedily pick ``argmax lam*rel(d) − (1−lam)*max_sim(d,
    picked)``, trading relevance against redundancy — the diversification
    pass production retrieval stacks run over the ANN candidate set.

    Contract: ``candidates`` is the OVER-FETCHED top-C result of a ranked
    retrieval (C in the tens — the same bounded set the reference's
    client-side rescore handles, ``vector_store.py:141``); the corpus-sized
    work already happened in that first-stage scan. The greedy loop is
    inherently sequential (pick i depends on picks 1..i−1), so it runs as
    k tiny JVM jobs over the checkpointed candidate set — every
    similarity/round stays in Spark expressions (never Python floats), so
    the output is DuckDB-oracle-checkable bit-for-bit.

    ``lam_complement`` is passed explicitly rather than computed as
    ``1 − lam``: ``1 − 0.7`` is ``0.30000000000000004`` in binary floating
    point, and the oracle writes ``0.3`` — both engines must use the SAME
    literal.

    Output: one row per pick — (rank 1..k, id, mmr_score).
    """
    spark = candidates.sparkSession
    cand = candidates.select(id_col, rel_col, vec_col) \
        .localCheckpoint(eager=True)
    picked: list = []
    rows: list[tuple] = []
    for rank in range(1, k + 1):
        cur = cand.filter(~F.col(id_col).isin(picked)) if picked else cand
        if picked:
            pvecs = (cand.filter(F.col(id_col).isin(picked))
                     .select(F.col(vec_col).alias("_pvec")))
            sim = exact_score(f"`{vec_col}`", "_pvec", score_decimals)
            scored = (cur.crossJoin(F.broadcast(pvecs))
                      .groupBy(id_col, rel_col)
                      .agg(F.max(sim).alias("_maxsim"))
                      .withColumn("_mmr", F.round(
                          F.lit(lam) * F.col(rel_col)
                          - F.lit(lam_complement) * F.col("_maxsim"),
                          score_decimals)))
        else:
            scored = cur.withColumn("_mmr", F.round(
                F.lit(lam) * F.col(rel_col), score_decimals))
        top_rows = top_k(scored, 1, id_col=id_col, score_col="_mmr").collect()
        if not top_rows:        # k exceeded the candidate count
            break
        top = top_rows[0]
        picked.append(top[id_col])
        rows.append((rank, top[id_col], float(top["_mmr"])))
    id_type = cand.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        rows, f"rank int, {id_col} {id_type}, mmr_score double")
