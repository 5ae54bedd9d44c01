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
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.functions.filters import apply_where
from server2_vector_search_server_spark.functions.vector import (
    similarity_score,
    squared_l2_sql,
)


def vector_literal(vec: Sequence[float]) -> Column:
    """A query vector as a literal array column (broadcast in the plan —
    the Spark analog of the reference embedding the query once driver-side,
    ``vector_store.py:32``).

    r10: ONE ``F.expr`` call building the whole array on the JVM — the old
    per-element ``F.lit`` form cost dim+1 py4j round trips per vector
    (and ``F.lit(list)`` pays the same: pyspark expands it element-wise),
    and the ANN pillars build dozens of these per query (4 codebooks × 8
    codewords at PQ alone): profiled 1.3–2.4 s of driver-side plan BUILD
    time per ``pq_knn`` call, before Spark ever saw the plan. ``repr`` of
    a Python float is the shortest round-tripping decimal and Spark's
    ``D``-suffixed literal parses it back to the identical double, so the
    constant array is value-identical to the per-lit form."""
    return F.expr(vector_literal_sql(vec))


def vector_literal_sql(vec: Sequence[float]) -> str:
    """SQL text of :func:`vector_literal`, for embedding in larger
    one-string expressions."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def vectors_literal_sql(vecs: Sequence[Sequence[float]]) -> str:
    """SQL text for a literal ``array<array<double>>`` (a whole codebook):
    the nested-array analog of :func:`vector_literal`, emitted as ONE
    string so a K-codeword book costs one ``F.expr`` parse instead of K+1
    py4j round trips (r11; same exact-repr round-trip argument)."""
    return "array(" + ",".join(vector_literal_sql(v) for v in vecs) + ")"


def vectors_literal(vecs: Sequence[Sequence[float]]) -> Column:
    """:func:`vectors_literal_sql` as a Column."""
    return F.expr(vectors_literal_sql(vecs))


def _resolve_k(k: int) -> int:
    # reference vector_store.py:141,158 — k == -1 → config SEARCH_K
    return config.SEARCH_K if k == -1 else k


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
    impl: str = "jvm",
) -> DataFrame:
    """Exact scored top-k under the reference contract.

    Returns the corpus columns (minus the vector) plus ``score``; rows with
    ``score >= threshold`` (when given), ordered ``score DESC, id ASC``,
    limited to k. With ``threshold=config.SIMILARITY_THRESHOLD`` this is the
    full ``/search_score`` pipeline (``app.py:414-432``).

    ``impl``: ``"jvm"`` (default) scores with the codegen'd array expression —
    the right choice to ~hundreds of dims and for the oracle gate. ``"arrow"``
    scores in numpy via ``mapInPandas`` with a per-batch pruned candidate set —
    measured ~1.7× faster at 1024 dims × 100 k vectors (SCALE.md §7), same
    results (the pruning margin provably preserves the rounded-score top-k).
    """
    k = _resolve_k(k)
    filtered = apply_where(corpus, where)
    if impl == "arrow":
        scored = _arrow_scored_candidates(filtered, query_vec, k,
                                          vec_col=vec_col)
    elif impl == "jvm":
        # one SQL string: similarity_score's Column form builds three
        # PySpark lambdas, ~170 py4j round trips per /search_score build;
        # the text is the same tree, so the score is bitwise the same
        scored = filtered.withColumn("score", F.expr(
            "1.0D - " + squared_l2_sql(vector_literal_sql(query_vec),
                                       f"`{vec_col}`"))
        ).drop(vec_col)
    else:
        raise ValueError(f"unknown impl {impl!r}")
    if score_decimals is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_decimals))
    if threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(threshold)))
    return (
        scored
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _arrow_scored_candidates(corpus: DataFrame, query_vec: Sequence[float],
                             k: int, *, vec_col: str) -> DataFrame:
    """Arrow-batched numpy scoring with per-batch candidate pruning.

    Each batch keeps rows whose RAW score is within 2×10^-SCORE_DECIMALS of
    its k-th best raw score: any dropped row then rounds strictly below the
    k-th rounded score, so it cannot enter the global top-k under any
    tie-break — the final JVM round/sort/limit sees every possible winner.
    The driver-side merge handles k·P candidate rows, same as
    TakeOrderedAndProject.

    Caveat: numpy's pairwise summation is not bit-identical to the JVM's
    sequential fold; raw scores can differ in the last ulps, so equality with
    the JVM path holds at rounded-score level (SCORE_DECIMALS), not raw —
    which is why registered oracle queries keep ``impl="jvm"``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    margin = 2.0 * 10.0 ** (-config.SCORE_DECIMALS)
    out_fields = [f for f in corpus.schema.fields if f.name != vec_col]
    out_schema = T.StructType(out_fields + [T.StructField("score",
                                                          T.DoubleType())])
    keep_cols = [f.name for f in out_fields]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].values).astype(np.float64)
            # same op order as functions/vector.squared_l2: (q_i - v_i)^2 sum
            s = 1.0 - ((q - m) ** 2).sum(axis=1)
            if len(s) > k:
                kth = np.partition(-s, k - 1)[k - 1] * -1.0
                mask = s >= kth - margin
            else:
                mask = np.ones(len(s), dtype=bool)
            out = pdf.loc[mask, keep_cols].copy()
            out["score"] = s[mask]
            yield out

    return corpus.mapInPandas(run, schema=out_schema)


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
    impl: str = "jvm",
) -> DataFrame:
    """Batch k-NN: top-k corpus rows per query row (many-query form of C1/C2).

    ``queries`` must be small enough to broadcast (it is the reference's
    one-query-at-a-time loop, batched). The corpus side is scanned once; the
    only shuffle is the per-query window over surviving candidates.

    ``impl="arrow"``: score every (query, corpus-batch) pair with one BLAS
    matmul (``d² = |q|² + |v|² − 2·q·v``) and keep only each query's local
    top-k (+rounding margin) per batch, so the window shuffle moves ~k·P·Q
    rows instead of Q×corpus — measured 38× faster at 100 queries × 100 k
    × 1024 dims (SCALE.md §8). Rounded-score-identical to the JVM path (the
    matmul identity and pairwise sums differ in last ulps; the public
    contract rounds to SCORE_DECIMALS).
    """
    k = _resolve_k(k)
    if impl == "arrow":
        scored = _arrow_multi_scored(queries, corpus, k,
                                     query_id_col=query_id_col,
                                     query_vec_col=query_vec_col,
                                     corpus_vec_col=corpus_vec_col)
    elif impl != "jvm":
        raise ValueError(f"unknown impl {impl!r}")
    else:
        scored = None
    if scored is not None:
        if score_decimals is not None:
            scored = scored.withColumn(
                "score", F.round(F.col("score"), score_decimals))
        if threshold is not None:
            scored = scored.filter(F.col("score") >= F.lit(float(threshold)))
        w = Window.partitionBy("__qid").orderBy(
            F.col("score").desc(), F.col(corpus_id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumnRenamed("__qid", query_id_col)
        )
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qvec")))
    scored = corpus.crossJoin(q).withColumn(
        "score", similarity_score(F.col("__qvec"), F.col(corpus_vec_col)))
    if score_decimals is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_decimals))
    if threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(threshold)))
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col(corpus_id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop(corpus_vec_col, "__qvec")
        .withColumnRenamed("__qid", query_id_col)
    )


def _arrow_multi_scored(queries: DataFrame, corpus: DataFrame, k: int, *,
                        query_id_col: str, query_vec_col: str,
                        corpus_vec_col: str) -> DataFrame:
    """(query, candidate, raw score) rows via one matmul per Arrow batch.

    The query set is collected (it must be broadcast-small by contract) and
    shipped in the UDF closure; each corpus batch computes the full
    batch×queries score matrix with BLAS and emits, per query, the rows
    within 2×10^-SCORE_DECIMALS of that query's local k-th best raw score —
    the same provably-lossless pruning as the single-query Arrow path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = [r[query_id_col] for r in q_rows]
    qm = np.stack([np.asarray([float(x) for x in r[query_vec_col]])
                   for r in q_rows])                       # Q × d
    q_sq = (qm ** 2).sum(axis=1)                           # |q|²
    margin = 2.0 * 10.0 ** (-config.SCORE_DECIMALS)
    qid_type = queries.schema[query_id_col].dataType

    out_fields = [f for f in corpus.schema.fields
                  if f.name != corpus_vec_col]
    keep_cols = [f.name for f in out_fields]
    out_schema = T.StructType(
        out_fields + [T.StructField("__qid", qid_type),
                      T.StructField("score", T.DoubleType())])

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[corpus_vec_col].values).astype(np.float64)
            v_sq = (m ** 2).sum(axis=1)
            # scores: S[i, j] = 1 − (|v_i|² + |q_j|² − 2·v_i·q_j)
            s = 1.0 - (v_sq[:, None] + q_sq[None, :] - 2.0 * (m @ qm.T))
            parts = []
            for j, qid in enumerate(q_ids):
                col = s[:, j]
                if len(col) > k:
                    kth = np.partition(-col, k - 1)[k - 1] * -1.0
                    mask = col >= kth - margin
                else:
                    mask = np.ones(len(col), dtype=bool)
                part = pdf.loc[mask, keep_cols].copy()
                part["__qid"] = qid
                part["score"] = col[mask]
                parts.append(part)
            yield pd.concat(parts, ignore_index=True)

    return corpus.mapInPandas(run, schema=out_schema)


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
    from server2_vector_search_server_spark.functions.vector import squared_l2

    k = _resolve_k(k)
    q_pref = vector_literal(list(query_vec)[:coarse_dim])
    coarse = F.round(
        F.lit(1.0) - squared_l2(q_pref, F.slice(F.col(vec_col), 1,
                                                coarse_dim)),
        score_decimals)
    cand = (corpus.withColumn("coarse_score", coarse)
            .orderBy(F.col("coarse_score").desc(), F.col(id_col).asc())
            .limit(k * overfetch))
    exact = F.round(similarity_score(vector_literal(query_vec),
                                     F.col(vec_col)), score_decimals)
    return (cand.withColumn("score", exact)
            .drop(vec_col)
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


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
    from server2_vector_search_server_spark.functions.vector import squared_l2

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
            sim = F.round(F.lit(1.0) - squared_l2(F.col(vec_col),
                                                  F.col("_pvec")),
                          score_decimals)
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
        top_rows = (scored.orderBy(F.col("_mmr").desc(), F.col(id_col).asc())
                    .limit(1).collect())
        if not top_rows:        # k exceeded the candidate count
            break
        top = top_rows[0]
        picked.append(top[id_col])
        rows.append((rank, top[id_col], float(top["_mmr"])))
    id_type = cand.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        rows, f"rank int, {id_col} {id_type}, mmr_score double")
