"""Ranked-retrieval query surface: BM25, hybrid (vector + lexical) fusion,
and multi-vector late-interaction scoring.

The reference is a retrieval server (`/search_score`, app.py:396-444 scores a
single query vector against one HNSW collection); production successors of
that design rank with BM25 over an FTS index (the reference's ChromaDB store
already ships an unused FTS5 trigram table — SURVEY.md §1.1), fuse lexical
and vector rankings (reciprocal-rank fusion, the default hybrid in
Elasticsearch/Vespa/Weaviate), and score multi-vector "late interaction"
queries (ColBERT-style maxsim). These three queries re-express that surface
Spark-first.

Determinism contract (FIXTURES.md): BM25 uses the LOG-FREE idf variant
``(N - df + 0.5) / (df + 0.5)`` — same saturation structure as classic BM25
but pure rational arithmetic, so Spark and DuckDB agree bit-for-bit where
``ln()`` is libm-dependent in its last ulp. All constants appear as the same
literals on both engines; per-group double sums go through the scaled-BIGINT
exact-sum pattern (registry.exact_sum) so shuffle order cannot perturb them.

Scale notes (SCALE.md §18): BM25's df/avgdl pass is a tiny aggregate
(vocabulary-sized / scalar) — broadcastable; the per-doc scoring pass is one
scan with map-side partial aggregation on doc_id. RRF joins two top-N
rankings — N rows each, trivially broadcastable at any corpus size. MaxSim
broadcasts the query-vector set (Q rows) so the corpus side is a single scan;
the max-per-(doc,qvec) aggregate is partial-aggregable map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark.functions.text import tokens
from server2_vector_search_server_spark.functions.vector import dot_sql
from server2_vector_search_server_spark.operators.knn import (
    exact_score,
    vector_literal_sql,
)
from server2_vector_search_server_spark.plans.registry import (
    exact_sum,
    query,
    sql_dot,
    sql_exact_sum,
    sql_score,
    tbl,
)

# BM25 constants — identical literals on both engines (never write `k1 + 1`:
# 1.2 + 1.0 rounds differently from the literal 2.2 in the last ulp).
_K1 = "1.2"
_K1_PLUS_1 = "2.2"
_B = "0.75"
_ONE_MINUS_B = "0.25"

_BM25_TERMS = ("spark", "vector", "hash")
_SQL_TERMS = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_SQL_TOKS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)


@query(
    "text_bm25_topk",
    survey="north-star retrieval (BM25 ranked lexical search; reference FTS5 "
           "table in chroma.sqlite3, SURVEY §1.1)",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {_SQL_TOKS} AS toks
      FROM documents WHERE doc_id < 200),
    dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             (CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*)) AS avgdl
      FROM docs),
    tf AS (
      SELECT doc_id, t.term, COUNT(*) AS tf
      FROM docs, UNNEST(toks) AS t(term)
      WHERE t.term IN ({_SQL_TERMS})
      GROUP BY doc_id, t.term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    term_scores AS (
      SELECT tf.doc_id,
             ((CAST(stats.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
             * ((tf.tf * {_K1_PLUS_1})
                / (tf.tf + {_K1} * ({_ONE_MINUS_B}
                                    + {_B} * (dl.dl / stats.avgdl))))
               AS s
      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
    scored AS (
      SELECT doc_id, {sql_exact_sum('s', 6)} AS bm25
      FROM term_scores GROUP BY doc_id)
    SELECT doc_id, ROUND(bm25, 6) AS bm25,
           CAST(row_number() OVER (ORDER BY ROUND(bm25, 6) DESC, doc_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
    ORDER BY rank
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term query (k1=1.2, b=0.75, log-free idf).

    Plan shape: ONE tokenize scan building a per-doc (dl, tf per term) row
    with in-array term counts — no explode, no (doc, term) shuffle; corpus
    stats (n_docs/avgdl) and per-term dfs are 1-row aggregates broadcast
    back, and scoring is a per-row projection — at 100 TB the corpus is
    scanned once and never shuffled."""
    # ONE tokenize pass (round 10, guide §1.2/§2.3): the old plan
    # tokenized every document three times — once for the avgdl/n_docs
    # driver action, once for the dl branch, once for the tf explode —
    # and shuffled an exploded-then-filtered token stream into a
    # (doc, term) aggregate. With a 3-term query, per-term tf is an
    # in-array count (`size(filter(toks, = term))`) on the same row as
    # dl, so the per-doc table is built once (checkpointed, 5 small ints
    # per doc), corpus stats and per-term dfs are two 1-row aggregates of
    # it riding back as broadcasts (no driver action), and scoring is a
    # pure per-row projection: zero corpus shuffles, explode eliminated.
    # Exactness: identical operand values and op order per term; the
    # per-doc sum folds the same round(s·1e6) BIGINTs exact_sum folded.
    toks = tokens(F.lower(F.col("text")))
    n_terms = len(_BM25_TERMS)

    def _tf(term: str):
        # NOTE: the lambda must take exactly one parameter — a second
        # (even defaulted) parameter makes Spark bind the two-arg
        # (element, index) filter form and the "term" becomes the index
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per = (tbl(spark, sf_dir, "documents")
           .filter(F.col("doc_id") < 200)
           .select("doc_id", F.size(toks).alias("dl"),
                   *[_tf(t).alias(f"tf_{i}")
                     for i, t in enumerate(_BM25_TERMS)])
           .localCheckpoint(eager=True))
    stats = per.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sum_dl"))
    dfs = per.agg(*[F.sum((F.col(f"tf_{i}") > 0).cast("long"))
                    .alias(f"df_{i}") for i in range(n_terms)])
    j = per.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))

    k1, k1p1 = float(_K1), float(_K1_PLUS_1)
    b, omb = float(_B), float(_ONE_MINUS_B)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def _term_scaled(i: int):
        s = (((F.col("n_docs").cast("double") - F.col(f"df_{i}") + 0.5)
              / (F.col(f"df_{i}") + 0.5))
             * ((F.col(f"tf_{i}") * k1p1)
                / (F.col(f"tf_{i}") + k1 * (omb + b * (F.col("dl")
                                                       / avgdl)))))
        return F.when(F.col(f"tf_{i}") > 0,
                      F.round(s * 1_000_000).cast("long")).otherwise(F.lit(0))

    hits = sum(F.col(f"tf_{i}") for i in range(n_terms))
    scaled_total = sum(_term_scaled(i) for i in range(n_terms))
    scored = (j.filter(hits > 0)
              .select("doc_id",
                      (scaled_total / 1_000_000.0).alias("bm25")))
    w = Window.orderBy(F.round("bm25", 6).desc(), F.col("doc_id").asc())
    return (scored
            .select("doc_id", F.round("bm25", 6).alias("bm25"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .orderBy("rank"))


_QV0 = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
_RRF_K = 60
_RRF_TERMS = ("spark", "vector")
_SQL_RRF_TERMS = ", ".join(f"'{t}'" for t in _RRF_TERMS)


@query(
    "search_hybrid_rrf",
    survey="north-star retrieval (hybrid vector+lexical search, "
           "reciprocal-rank fusion; C1/C2 + the FTS5 lexical layer)",
    oracle=f"""
    WITH vr AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY {sql_score('e.embedding', _QV0)} DESC, vec_id)
               AS INTEGER) AS vrank
      FROM embeddings e WHERE vec_id <> 0 AND vec_id < 200),
    tr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY hits DESC, doc_id)
                  AS INTEGER) AS trank
      FROM (SELECT doc_id,
                   len(list_filter({_SQL_TOKS},
                                   t -> t IN ({_SQL_RRF_TERMS}))) AS hits
            FROM documents WHERE doc_id <> 0 AND doc_id < 200))
    SELECT doc_id, vrank, trank,
           ROUND(1.0 / ({_RRF_K} + vrank) + 1.0 / ({_RRF_K} + trank), 6)
             AS rrf
    FROM vr JOIN tr USING (doc_id)
    QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 15
    ORDER BY rrf DESC, doc_id
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: vector ranking (the reference score contract
    1 − d², app.py:418) fused with a lexical term-hit ranking via
    reciprocal-rank fusion, rrf = Σ 1/(60 + rank).

    Both rankings are top-N row_number windows over independently scored
    scans (documents and embeddings join 1:1 on id in the fixture — the
    chunks-table dual view of one corpus); the fusion join touches only
    ranked rows, broadcastable at any corpus scale."""
    from server2_vector_search_server_spark.plans.vector_queries import (
        _query_vec,
    )

    emb = (tbl(spark, sf_dir, "embeddings")
           .filter((F.col("vec_id") != 0) & (F.col("vec_id") < 200)))
    qv = _query_vec(spark, sf_dir, 0)
    score = exact_score(vector_literal_sql(qv), "embedding")
    vr = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(
            Window.orderBy(score.desc(), F.col("vec_id").asc()))
        .alias("vrank"))

    docs = (tbl(spark, sf_dir, "documents")
            .filter((F.col("doc_id") != 0) & (F.col("doc_id") < 200)))
    hits = F.size(F.filter(tokens(F.lower(F.col("text"))),
                           lambda t: t.isin(*_RRF_TERMS)))
    tr = docs.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(hits.desc(), F.col("doc_id").asc()))
        .alias("trank"))

    fused = (vr.join(tr, "doc_id")
             .withColumn("rrf",
                         F.round(1.0 / (_RRF_K + F.col("vrank"))
                                 + 1.0 / (_RRF_K + F.col("trank")), 6)))
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (fused.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= 15).drop("__r")
            .orderBy(F.col("rrf").desc(), F.col("doc_id").asc()))


@query(
    "search_maxsim_late_interaction",
    survey="north-star retrieval (multi-vector late interaction / ColBERT "
           "maxsim over label-grouped vector sets)",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id < 3),
    corpus AS (
      SELECT vec_id, label, embedding
      FROM embeddings WHERE vec_id >= 10),
    pairs AS (
      SELECT corpus.label, q.qid,
             ROUND({sql_dot('qv', 'corpus.embedding')}, 6) AS sim
      FROM corpus CROSS JOIN q),
    mx AS (SELECT label, qid, MAX(sim) AS best
           FROM pairs GROUP BY label, qid),
    scored AS (
      SELECT label, {sql_exact_sum('best', 6)} AS maxsim
      FROM mx GROUP BY label)
    SELECT label, ROUND(maxsim, 6) AS maxsim
    FROM scored
    ORDER BY maxsim DESC, label
    """,
)
def search_maxsim_late_interaction(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """ColBERT-style maxsim: the query is a SET of vectors (vec_id < 3),
    each logical document is a SET of vectors (grouped by label);
    score(doc) = Σ_q max_v dot(q, v).

    The query set is broadcast (Q rows), so the corpus is scanned exactly
    once and expanded Q×; the per-qid maxes ride as Q conditional MAX
    columns of ONE label-keyed aggregate (partial-aggregable map-side),
    so what crosses the single exchange is ≤ labels rows × Q columns
    regardless of corpus size (SCALE.md §17 logic)."""
    # ONE exchange (round 10): the old two-stage aggregate shuffled
    # (label, qid) partials and then label partials; with Q = 3 known
    # query ids the per-qid maxes are three conditional MAX columns of a
    # single label-keyed aggregate over the same broadcast fan-out, and
    # the final Σ best folds per-row from the same round(best·1e6)
    # BIGINTs exact_sum folded — identical values, one exchange fewer.
    emb = tbl(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    corpus = (emb.filter(F.col("vec_id") >= 10)
              .select("label", "embedding"))
    pairs = corpus.crossJoin(F.broadcast(q)).select(
        "label", "qid",
        F.expr(f"round({dot_sql('qv', 'embedding')}, 6)").alias("sim"))
    mx = pairs.groupBy("label").agg(
        *[F.max(F.when(F.col("qid") == i, F.col("sim")))
          .alias(f"best_{i}") for i in range(3)])
    scaled = sum(F.round(F.col(f"best_{i}") * 1_000_000).cast("long")
                 for i in range(3))
    return (mx.select("label",
                      F.round(scaled / 1_000_000.0, 6).alias("maxsim"))
            .orderBy(F.col("maxsim").desc(), F.col("label").asc()))


# --- MMR diversified re-rank -------------------------------------------------

_MMR_C = 12           # over-fetched candidate set size
_MMR_K = 5
_MMR_QV = "(SELECT embedding FROM embeddings WHERE vec_id = 42)"
# identical literals on both engines — never write 1 - 0.7 (which is
# 0.30000000000000004 in binary floating point), write 0.3
_MMR_LAM = "CAST(0.7 AS DOUBLE)"
_MMR_OML = "CAST(0.3 AS DOUBLE)"


def _mmr_sql() -> str:
    """Unrolled greedy MMR as K chained CTE stages (the same unrolling
    trick the pagerank / k-means oracles use for iterative algorithms)."""
    from server2_vector_search_server_spark.plans.registry import sql_sq_l2

    ctes = [f"""cand AS (
      SELECT vec_id, ROUND(1.0 - {sql_sq_l2('embedding', _MMR_QV)}, 6)
               AS rel, embedding
      FROM embeddings
      ORDER BY rel DESC, vec_id ASC LIMIT {_MMR_C})"""]
    ctes.append(f"""p1 AS (
      SELECT CAST(1 AS INTEGER) AS rank, vec_id,
             ROUND({_MMR_LAM} * rel, 6) AS mmr_score
      FROM cand ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)""")
    for i in range(2, _MMR_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM p{j}" for j in range(1, i))
        sim = sql_sq_l2('c.embedding', 'pk.embedding')
        ctes.append(f"""p{i} AS (
      SELECT CAST({i} AS INTEGER) AS rank, c.vec_id,
             ROUND({_MMR_LAM} * c.rel - {_MMR_OML} * (
               SELECT MAX(ROUND(1.0 - {sim}, 6))
               FROM cand pk WHERE pk.vec_id IN ({picked})), 6) AS mmr_score
      FROM cand c WHERE c.vec_id NOT IN ({picked})
      ORDER BY mmr_score DESC, c.vec_id ASC LIMIT 1)""")
    union = " UNION ALL ".join(
        f"SELECT rank, vec_id, mmr_score FROM p{i}"
        for i in range(1, _MMR_K + 1))
    return "WITH " + ",\n    ".join(ctes) + f"\n    {union} ORDER BY rank"


@query(
    "search_mmr_diversified",
    survey="C1/F3-adjacent(MMR diversified re-rank over the over-fetched "
           "candidate set: greedy relevance-vs-redundancy selection, "
           "unrolled-CTE oracle)",
    oracle=_mmr_sql(),
)
def search_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with diversification: brute-force top-12 by the
    reference score contract (the corpus-sized scan), then the greedy MMR
    loop picks 5 of 12 balancing relevance against similarity to already-
    picked results (lambda = 0.7). The loop is k tiny JVM jobs over the
    checkpointed candidates — sequential by nature, bounded by C, and
    bit-identical to the unrolled SQL because every float op is the same
    Spark/DuckDB expression."""
    from server2_vector_search_server_spark.operators.knn import mmr_rerank

    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]
    rel = exact_score(vector_literal_sql(qv), "embedding")
    cand = (emb.select("vec_id", rel.alias("rel"), "embedding")
            .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
            .limit(_MMR_C))
    return mmr_rerank(cand, k=_MMR_K, lam=0.7, lam_complement=0.3)


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback: search -> expand query -> re-search

_PRF_K = 10          # feedback set size
_PRF_FINAL_K = 5
_PRF_ALPHA = "1.0"   # literals shared by both engines (never derived)
_PRF_BETA = "0.5"
_PRF_DIM = 64        # FIXTURES.md: embeddings are 64-dim at every SF
_PRF_SCALE = 6       # exact-sum micro-units for the per-dim centroid


def _prf_sql() -> str:
    from server2_vector_search_server_spark.plans.registry import (
        sql_exact_sum,
        sql_sq_l2,
    )

    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 42),
    top AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e, q
      ORDER BY ROUND(1.0 - {sql_sq_l2('e.embedding', 'q.qv')}, 6) DESC,
               e.vec_id ASC
      LIMIT {_PRF_K}),
    dims AS (
      SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM top, UNNEST(range(1, {_PRF_DIM + 1})) AS t(i)),
    mean AS (
      SELECT dim, {sql_exact_sum('x', _PRF_SCALE)} / {_PRF_K} AS m
      FROM dims GROUP BY dim),
    mean_list AS (SELECT list(m ORDER BY dim) AS ml FROM mean),
    q2 AS (
      SELECT list_transform(range(1, {_PRF_DIM + 1}),
               i -> {_PRF_ALPHA} * CAST(q.qv[i] AS DOUBLE)
                    + {_PRF_BETA} * ml[i]) AS qv2
      FROM q, mean_list)
    SELECT e.vec_id, e.label,
           ROUND(1.0 - {sql_sq_l2('e.embedding', 'q2.qv2')}, 6) AS prf_score
    FROM embeddings e, q2
    ORDER BY prf_score DESC, e.vec_id ASC
    LIMIT {_PRF_FINAL_K}
    """


@query(
    "search_prf_rocchio",
    survey="C1/F3-adjacent(pseudo-relevance feedback: top-k feedback "
           "centroid blended into the query (Rocchio), exact re-search "
           "with the expanded vector)",
    oracle=_prf_sql(),
)
def search_prf_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio PRF (Salton's SMART formulation, public algorithm): an
    initial exact top-10 acts as the pseudo-relevant set; the expanded
    query q' = alpha*q + beta*centroid(top10) is re-scored against the
    corpus under the reference's 1 - d^2 contract. Per-dimension centroid
    sums go through the scaled-BIGINT exact-sum pattern so shuffle order
    cannot move q' by an ulp; the 64 means return to the driver via one
    bounded collect (the codebook-transport pattern — dimension-sized,
    never corpus-sized). At 100 TB both passes are single corpus scans
    with a broadcast query vector; the feedback set is top-k tiny."""
    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]
    rel = exact_score(vector_literal_sql(qv), "embedding")
    top = (emb.select("vec_id", "embedding")
           .orderBy(rel.desc(), F.col("vec_id").asc()).limit(_PRF_K))
    mean = (top.select(F.posexplode("embedding").alias("dim", "x"))
            .groupBy("dim")
            .agg((exact_sum(F.col("x").cast("double"), _PRF_SCALE)
                  / _PRF_K).alias("m")))
    mvals = {r["dim"]: r["m"] for r in mean.collect()}   # bounded: dim rows
    alpha, beta = float(_PRF_ALPHA), float(_PRF_BETA)
    q2 = [alpha * float(qv[i]) + beta * mvals[i] for i in range(_PRF_DIM)]
    prf = exact_score(vector_literal_sql(q2), "embedding")
    return (emb.select("vec_id", "label", prf.alias("prf_score"))
            .orderBy(F.col("prf_score").desc(), F.col("vec_id").asc())
            .limit(_PRF_FINAL_K))


# ---------------------------------------------------------------------------
# Query-likelihood language-model ranking (Dirichlet smoothing)

_QL_MU = 300.0                      # Dirichlet prior mass (~3x avg doc len)
_QL_TERMS = ("merge", "vector", "scan")
_QL_K = 20
_QL_TERMS_SQL = "('" + "', '".join(_QL_TERMS) + "')"
_SQL_QL_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"


@query(
    "text_ql_dirichlet_topk",
    survey="retrieval extension(query-likelihood language-model ranking "
           "with Dirichlet smoothing, Zhai & Lafferty 2001 — the LM "
           "retrieval family next to BM25; per-term log-likelihoods fold "
           "as exact nano-unit sums)",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.term FROM documents,
             UNNEST({_SQL_QL_TOKS}) AS t(term)),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    coll AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_tot FROM toks),
    cf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM toks
           WHERE term IN {_QL_TERMS_SQL} GROUP BY term),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           WHERE term IN {_QL_TERMS_SQL} GROUP BY doc_id, term),
    scored AS (
      SELECT dl.doc_id,
             SUM(CAST(ROUND(ROUND(ln((CAST(COALESCE(tf.tf, 0) AS DOUBLE)
                          + {_QL_MU} * (CAST(cf.cf AS DOUBLE)
                                        / CAST(coll.c_tot AS DOUBLE)))
                         / (CAST(dl.dl AS DOUBLE) + {_QL_MU})), 9)
                       * 1000000000) AS BIGINT)) AS ql_nano
      FROM dl CROSS JOIN cf CROSS JOIN coll
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
      GROUP BY dl.doc_id)
    SELECT doc_id, ROUND(ql_nano / 1000000000.0, 6) AS ql_score
    FROM scored
    ORDER BY ql_nano DESC, doc_id LIMIT {_QL_K}
    """,
)
def text_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
    2001): score(q,d) = sum_t ln((tf_td + mu*P(t|C)) / (|d| + mu)). Unlike
    BM25, absent terms still contribute through the collection model, so
    every document is scored — the LM-retrieval property that makes the
    smoothing mass a tunable recall knob.

    Scale shape: ONE tokenization pass feeds three partial-aggregable
    reductions — per-doc length (doc-keyed), collection size (scalar), and
    query-term cf (|q| rows) — then scoring joins the BROADCAST |q|x1 term
    stats against doc lengths with a left join on the sparse tf table:
    cost = docs x |q| narrow rows, no re-tokenization, no corpus-sized
    shuffle beyond the tf groupBy. Per-term log-likelihoods round to nano
    units and fold as exact integers (registry rule); top-k orders by the
    integer score with a doc_id tie-break so the LIMIT boundary is
    deterministic on both engines."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text")))
                       .alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long")
                                    .alias("dl"))
    coll = toks.agg(F.count(F.lit(1)).cast("long").alias("c_tot"))
    qt = toks.filter(F.col("term").isin(*_QL_TERMS))
    cf = qt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tf = (qt.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    term_ll = F.round(
        F.round(F.log((F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                       + F.lit(_QL_MU) * (F.col("cf").cast("double")
                                          / F.col("c_tot").cast("double")))
                      / (F.col("dl").cast("double") + F.lit(_QL_MU))), 9)
        * 1_000_000_000).cast("long")
    scored = (dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(coll))
              .join(tf, ["doc_id", "term"], "left")
              .select("doc_id", term_ll.alias("ll_nano"))
              .groupBy("doc_id").agg(F.sum("ll_nano").alias("ql_nano")))
    return (scored.orderBy(F.col("ql_nano").desc(), "doc_id").limit(_QL_K)
            .select("doc_id",
                    F.round(F.col("ql_nano") / 1_000_000_000.0, 6)
                    .alias("ql_score")))


# ---------------------------------------------------------------------------
# Rank-biased overlap between two rankings of the same query

_RBO_D = 20
_RBO_P = 0.9
# suffix sums S[m] = sum_{k=m}^{20} (1-p) p^(k-1) / k, micro units, computed
# once in Python and shared as literals by both engines (the nDCG-weights
# discipline) — a common doc first co-present at depth m contributes S[m].
_RBO_SUFFIX = [251483, 151483, 106483, 79483, 61258, 48136, 38295, 30703,
               24724, 19941, 16067, 12897, 10282, 8109, 6294, 4769, 3482,
               2392, 1465, 675]
_RBO_SUFFIX_SQL = "[" + ", ".join(str(v) for v in _RBO_SUFFIX) + "]"


@query(
    "search_rbo_rankings",
    survey="retrieval extension(rank-biased overlap, Webber et al. 2010: "
           "top-weighted similarity between the Dirichlet-QL and raw-TF "
           "rankings at depth 20 — the search-regression metric; "
           "per-common-doc suffix-weight lookup, exact micro fold)",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.term FROM documents,
             UNNEST({_SQL_QL_TOKS}) AS t(term)),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    coll AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_tot FROM toks),
    cf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM toks
           WHERE term IN {_QL_TERMS_SQL} GROUP BY term),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           WHERE term IN {_QL_TERMS_SQL} GROUP BY doc_id, term),
    ql AS (
      SELECT dl.doc_id,
             SUM(CAST(ROUND(ROUND(ln((CAST(COALESCE(tf.tf, 0) AS DOUBLE)
                          + {_QL_MU} * (CAST(cf.cf AS DOUBLE)
                                        / CAST(coll.c_tot AS DOUBLE)))
                         / (CAST(dl.dl AS DOUBLE) + {_QL_MU})), 9)
                       * 1000000000) AS BIGINT)) AS ql_nano
      FROM dl CROSS JOIN cf CROSS JOIN coll
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
      GROUP BY dl.doc_id),
    ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY ql_nano DESC, doc_id)
               AS r FROM ql),
    rawtf AS (
      SELECT dl.doc_id, COALESCE(SUM(tf.tf), 0) AS tfsum
      FROM dl LEFT JOIN tf ON tf.doc_id = dl.doc_id
      GROUP BY dl.doc_id),
    rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY tfsum DESC, doc_id)
               AS r FROM rawtf),
    common AS (
      SELECT GREATEST(ra.r, rb.r) AS m
      FROM ra JOIN rb ON ra.doc_id = rb.doc_id
      WHERE ra.r <= {_RBO_D} AND rb.r <= {_RBO_D})
    SELECT CAST(COUNT(*) AS BIGINT) AS overlap_at_20,
           ROUND(COALESCE(SUM({_RBO_SUFFIX_SQL}[m]), 0) / 1000000.0, 6)
             AS rbo
    FROM common
    """,
)
def search_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the Dirichlet-smoothed QL ranking and
    the raw term-frequency ranking for the same query — the top-weighted
    rank-similarity metric search teams use to quantify what a ranker
    change actually moved (unlike Kendall's tau, RBO weights the head).
    The identity used: a doc present in BOTH prefixes from depth
    m = max(rank_a, rank_b) contributes exactly the precomputed suffix
    weight S[m], so RBO@20 is one equi-join on doc_id over two bounded
    top-20 lists plus a literal lookup — no per-depth loop exists.

    Scale shape: both rankings come from the SAME tokenization pass as
    text_ql_dirichlet_topk (shuffle shared), and the RBO arithmetic runs
    on <= 20-row tables with integer weights."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text")))
                       .alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long")
                                    .alias("dl"))
    coll = toks.agg(F.count(F.lit(1)).cast("long").alias("c_tot"))
    qt = toks.filter(F.col("term").isin(*_QL_TERMS))
    cf = qt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tf = (qt.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    term_ll = F.round(
        F.round(F.log((F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                       + F.lit(_QL_MU) * (F.col("cf").cast("double")
                                          / F.col("c_tot").cast("double")))
                      / (F.col("dl").cast("double") + F.lit(_QL_MU))), 9)
        * 1_000_000_000).cast("long")
    ql = (dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(coll))
          .join(tf, ["doc_id", "term"], "left")
          .select("doc_id", term_ll.alias("ll_nano"))
          .groupBy("doc_id").agg(F.sum("ll_nano").alias("ql_nano")))
    ra = ql.withColumn("r", F.row_number().over(
        Window.orderBy(F.col("ql_nano").desc(), "doc_id")))
    rawtf = (dl.join(tf.groupBy("doc_id")
                     .agg(F.sum("tf").alias("tfsum")), "doc_id", "left")
             .select("doc_id", F.coalesce("tfsum", F.lit(0))
                     .alias("tfsum")))
    rb = rawtf.withColumn("r", F.row_number().over(
        Window.orderBy(F.col("tfsum").desc(), "doc_id")))
    s_lit = F.array(*[F.lit(v).cast("long") for v in _RBO_SUFFIX])
    common = (ra.filter(F.col("r") <= _RBO_D)
              .select("doc_id", F.col("r").alias("r_a"))
              .join(rb.filter(F.col("r") <= _RBO_D)
                    .select("doc_id", F.col("r").alias("r_b")), "doc_id")
              .select(F.greatest("r_a", "r_b").cast("int").alias("m")))
    return common.agg(
        F.count(F.lit(1)).cast("long").alias("overlap_at_20"),
        F.round(F.coalesce(F.sum(F.element_at(s_lit, F.col("m"))),
                           F.lit(0)) / 1_000_000.0, 6).alias("rbo"))


# ---------------------------------------------------------------------------
# Trigram fuzzy term search (pg_trgm-style)

_TRGM_QUERY = "vectr"        # misspelling of 'vector'
_TRGM_MIN_SHARED = 2
_TRGM_MAX_LEV = 2


def _sql_trigrams(expr: str) -> str:
    return (f"list_distinct(list_transform(range(1, length({expr}) - 1), "
            f"i -> substr({expr}, i, 3)))")


@query(
    "search_trigram_fuzzy_terms",
    survey="retrieval extension(trigram fuzzy term lookup, pg_trgm-style: "
           "inverted trigram index -> shared-trigram candidate join -> "
           "Levenshtein verify; typo-tolerant search without a "
           "full-vocabulary distance scan)",
    oracle=f"""
    WITH toks AS (
      SELECT t.term FROM documents,
             UNNEST(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS t(term)),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE length(term) >= 3 GROUP BY term),
    inv AS (
      SELECT v.term, v.freq, g.g
      FROM vocab v, UNNEST({_sql_trigrams('v.term')}) AS g(g)),
    qg AS (SELECT unnest({_sql_trigrams(f"'{_TRGM_QUERY}'")}) AS g),
    cand AS (
      SELECT inv.term, inv.freq, COUNT(*) AS shared
      FROM inv JOIN qg ON qg.g = inv.g
      GROUP BY inv.term, inv.freq
      HAVING COUNT(*) >= {_TRGM_MIN_SHARED})
    SELECT term, freq, CAST(shared AS BIGINT) AS shared_trigrams,
           CAST(levenshtein(term, '{_TRGM_QUERY}') AS BIGINT) AS lev
    FROM cand
    WHERE levenshtein(term, '{_TRGM_QUERY}') <= {_TRGM_MAX_LEV}
    ORDER BY lev, freq DESC, term
    """,
)
def search_trigram_fuzzy_terms(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Typo-tolerant term lookup the pg_trgm way: vocabulary terms explode
    into character trigrams (the inverted index a real deployment
    materializes once), the query's trigrams equi-join candidates sharing
    >= 2 trigrams, and only candidates pay the Levenshtein verify — the
    symspell alternative that needs no precomputed delete neighborhood
    and handles arbitrary edit patterns.

    Scale shape: the trigram index is vocabulary x ~word-length rows
    built by one explode+groupBy; a query is a |q|-row broadcast
    equi-join + bounded verify. Distance never touches the full
    vocabulary."""
    from server2_vector_search_server_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens(F.col("text"))).alias("term"))
             .filter(F.length("term") >= 3)
             .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                  .alias("freq")))
    trigrams = F.array_distinct(F.expr(
        "transform(sequence(1, length(term) - 2), i -> substr(term, i, 3))"))
    inv = vocab.select("term", "freq", F.explode(trigrams).alias("g"))
    q = _TRGM_QUERY
    qgrams = sorted({q[i:i + 3] for i in range(len(q) - 2)})
    qg = spark.createDataFrame([(g,) for g in qgrams], "g string")
    cand = (inv.join(F.broadcast(qg), "g")
            .groupBy("term", "freq")
            .agg(F.count(F.lit(1)).cast("long").alias("shared_trigrams"))
            .filter(F.col("shared_trigrams") >= _TRGM_MIN_SHARED))
    return (cand.withColumn("lev", F.levenshtein(F.col("term"), F.lit(q))
                            .cast("long"))
            .filter(F.col("lev") <= _TRGM_MAX_LEV)
            .select("term", "freq", "shared_trigrams", "lev")
            .orderBy("lev", F.col("freq").desc(), "term"))


# ---------------------------------------------------------------------------
# Prefix autocomplete index

_AC_PREFIX_LENS = (1, 2, 3)
_AC_TOP = 3


@query(
    "search_prefix_autocomplete",
    survey="retrieval extension(query autocomplete: prefix -> top-k "
           "terms by corpus frequency, one explode + per-prefix window "
           "— the typeahead index next to the spell/fuzzy family)",
    oracle=f"""
    WITH toks AS (
      SELECT t.term FROM documents,
             UNNEST(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS t(term)),
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE length(term) >= 3 GROUP BY term),
    pfx AS (
      SELECT substr(term, 1, l.l) AS prefix, term, freq
      FROM freq, UNNEST([{", ".join(str(x) for x in _AC_PREFIX_LENS)}])
           AS l(l)
      WHERE length(term) >= l.l),
    ranked AS (
      SELECT prefix, term, freq,
             row_number() OVER (PARTITION BY prefix
                                ORDER BY freq DESC, term) AS rn
      FROM pfx)
    SELECT prefix, CAST(rn AS BIGINT) AS rank, term, freq
    FROM ranked WHERE rn <= {_AC_TOP}
    ORDER BY prefix, rn
    """,
)
def search_prefix_autocomplete(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Typeahead completion index: every 1-3 char prefix maps to its
    top-3 corpus terms by frequency with deterministic ties — the
    materialized structure a search box queries per keystroke (a prefix
    lookup IS a partition-pruned point read once written partitioned by
    prefix length + leading char).

    Scale shape: vocabulary-sized explode (3 rows per term) + a window
    partitioned by prefix — reduce side bounded by the prefix domain;
    raw text is scanned once for the term counts."""
    from pyspark.sql import Window
    from server2_vector_search_server_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(tokens(F.col("text"))).alias("term"))
            .filter(F.length("term") >= 3)
            .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                 .alias("freq")))
    pfx = (freq.select(
        F.explode(F.array(*[F.lit(x) for x in _AC_PREFIX_LENS]))
        .alias("l"), "term", "freq")
        .filter(F.length("term") >= F.col("l"))
        .select(F.expr("substr(term, 1, l)").alias("prefix"),
                "term", "freq"))
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), "term")
    return (pfx.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _AC_TOP)
            .select("prefix", F.col("rank").cast("long").alias("rank"),
                    "term", "freq")
            .orderBy("prefix", "rank"))


# ---------------------------------------------------------------------------
# BM25F: fielded ranking with per-field weights

_F_TITLE_LEN = 5          # field split: first 5 tokens act as the title
_F_W_TITLE = "3.0"        # field weights (literals shared by both engines)
_F_W_BODY = "1.0"
_BM25F_K = 10


@query(
    "text_bm25f_fielded",
    survey="retrieval extension(BM25F fielded ranking, Robertson/Zaragoza "
           "2004: per-field weighted term frequencies folded into ONE "
           "saturation curve — the multi-field document model; rational "
           "idf, exact micro fold)",
    oracle=f"""
    WITH toks AS (
      -- no UNNEST WITH ORDINALITY in DuckDB: index via range (ROUND_NOTES)
      SELECT doc_id, arr[p.pos] AS term, p.pos
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS arr FROM documents),
           UNNEST(range(1, len(arr) + 1)) AS p(pos)),
    ft AS (
      SELECT doc_id, term,
             SUM(CASE WHEN pos <= {_F_TITLE_LEN}
                 THEN {_F_W_TITLE} ELSE {_F_W_BODY} END) AS wtf
      FROM toks WHERE term IN ({_SQL_TERMS})
      GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id,
             SUM(CASE WHEN pos <= {_F_TITLE_LEN}
                 THEN {_F_W_TITLE} ELSE {_F_W_BODY} END) AS wdl
      FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT COUNT(*) FROM dl) AS n,
             (SELECT SUM(wdl) FROM dl) / (SELECT COUNT(*) FROM dl)
               AS avg_wdl),
    df AS (
      SELECT term, COUNT(*) AS df FROM ft GROUP BY term),
    scored AS (
      SELECT ft.doc_id,
             SUM(CAST(ROUND(
               ((stats.n - df.df + 0.5) / (df.df + 0.5))
               * ((ft.wtf * {_K1_PLUS_1})
                  / (ft.wtf + {_K1} * ({_ONE_MINUS_B}
                     + {_B} * dl.wdl / stats.avg_wdl)))
               * 1000000) AS BIGINT)) AS s_micro
      FROM ft JOIN dl ON dl.doc_id = ft.doc_id
      JOIN df ON df.term = ft.term CROSS JOIN stats
      GROUP BY ft.doc_id)
    SELECT doc_id, ROUND(s_micro / 1000000.0, 6) AS bm25f
    FROM scored ORDER BY s_micro DESC, doc_id LIMIT {_BM25F_K}
    """,
)
def text_bm25f_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F — the fielded extension every production engine runs when
    documents have structure (title/body here: the first 5 tokens weigh
    3x): per-field term frequencies combine into ONE weighted tf that
    feeds a SINGLE saturation curve, which is the insight separating
    BM25F from naively summing per-field BM25 scores (that over-rewards
    matching the same term in many fields). Same log-free rational idf
    and exact micro fold as text_bm25_topk; weighted doc length
    normalizes against the weighted average.

    Scale shape: one positional tokenization pass feeds weighted tf
    (query terms only), weighted doc length, and df — all
    partial-aggregable; scoring joins the broadcast-sized stats. Field
    boundaries come from token position, so no second tokenization or
    storage change is needed."""
    from server2_vector_search_server_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos0", "term"))
    toks = toks.select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    w = F.when(F.col("pos") <= _F_TITLE_LEN,
               F.lit(float(_F_W_TITLE))).otherwise(F.lit(float(_F_W_BODY)))
    ft = (toks.filter(F.col("term").isin(*_BM25_TERMS))
          .groupBy("doc_id", "term").agg(F.sum(w).alias("wtf")))
    dl = toks.groupBy("doc_id").agg(F.sum(w).alias("wdl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   (F.sum("wdl") / F.count(F.lit(1))).alias("avg_wdl"))
    df = ft.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1 = float(_K1)
    k1p1 = float(_K1_PLUS_1)
    b = float(_B)
    omb = float(_ONE_MINUS_B)
    term_score = F.round(
        ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * ((F.col("wtf") * k1p1)
           / (F.col("wtf") + k1 * (omb + b * F.col("wdl")
                                   / F.col("avg_wdl"))))
        * 1_000_000).cast("long")
    scored = (ft.join(dl, "doc_id").join(F.broadcast(df), "term")
              .join(F.broadcast(stats))
              .select("doc_id", term_score.alias("ts"))
              .groupBy("doc_id").agg(F.sum("ts").alias("s_micro")))
    return (scored.orderBy(F.col("s_micro").desc(), "doc_id")
            .limit(_BM25F_K)
            .select("doc_id",
                    F.round(F.col("s_micro") / 1_000_000.0, 6)
                    .alias("bm25f")))
