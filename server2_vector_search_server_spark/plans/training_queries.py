"""Training-pipeline query surface: contrastive hard-negative mining,
k-NN label evaluation, and schema-evolution reads.

The reference serves retrieval (`app.py:396-444` scores a query vector
against an HNSW collection); the training loop that PRODUCES those
embeddings needs the mirror-image operators over the same tables:

* **hard-negative mining** (DPR, Karpukhin et al. 2020; ANCE, Xiong et
  al. 2021): for each anchor, the most-similar corpus items with a
  DIFFERENT label — the negatives that actually move a contrastive loss.
  At 100 TB this is a k-NN batch job, not a serving call: anchors are
  broadcast, the corpus is scanned once, and top-k per anchor is a
  partial-aggregable window — the same physical shape as
  `search_multi_query_knn`.
* **k-NN label evaluation** (the standard embedding-quality probe used
  before committing a checkpoint): held-out vectors classified by
  majority vote of their k nearest train vectors. Same join/window
  shape; the vote is one more tiny aggregate.
* **schema evolution**: corpora live for years; batches gain columns
  (a new quality score, a new provenance field). Spark's
  ``mergeSchema`` parquet read is the engine-side contract that old
  batches stay readable and new columns backfill as NULL — the
  Iceberg/Delta `ADD COLUMN` semantics without a table format.

Determinism contract (FIXTURES.md): cosine = dot of once-normalized
vectors (same op order as `operators/dedup.cosine_near_duplicates`),
ROUNDed to 6 decimals on both engines; ties broken by ascending id;
majority votes tie-break (count DESC, label ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark.functions.vector import (
    dot_sql,
    l2_normalize_sql,
)
from server2_vector_search_server_spark.plans.registry import (
    scratch_dir,
    query,
    sql_dot,
    sql_l2_norm,
    tbl,
)

# ---------------------------------------------------------------------------
# shared: once-normalized embedding fragments (Spark + DuckDB twins)

_SQL_NORMED = """
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               (CASE WHEN {norm} = 0 THEN 1.0 ELSE {norm} END)) AS nv
      FROM embeddings
""".format(norm=sql_l2_norm("embedding"))


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.expr(l2_normalize_sql("embedding")).alias("nv"))


def _cosine(a: str, b: str):
    """Cosine of two unit vectors: their dot product, rounded to 6."""
    return F.expr(f"round({dot_sql(a, b)}, 6)")


# ---------------------------------------------------------------------------
# 1. contrastive hard-negative mining

_HN_ANCHORS = 8
_HN_CORPUS = 400
_HN_K = 5

_SQL_HARD_NEGATIVES = f"""
    WITH normed AS ({_SQL_NORMED}),
    anchors AS (SELECT * FROM normed WHERE vec_id < {_HN_ANCHORS}),
    corpus AS (SELECT * FROM normed WHERE vec_id < {_HN_CORPUS}),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             ROUND({sql_dot('a.nv', 'c.nv')}, 6) AS cosine
      FROM anchors a JOIN corpus c
        ON c.label <> a.label),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id
        ORDER BY cosine DESC, negative_id ASC) AS rnk
      FROM scored)
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           CAST(rnk AS BIGINT) AS rnk, cosine
    FROM ranked WHERE rnk <= {_HN_K}
    ORDER BY anchor_id, rnk
"""


@query(
    "embedding_hard_negatives",
    survey="north-star training pipeline (contrastive hard-negative "
           "mining: per-anchor top-k most-similar other-label items; "
           "DPR/ANCE-style negatives over the C1/E kNN machinery)",
    oracle=_SQL_HARD_NEGATIVES,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each anchor embedding, the k corpus vectors most cosine-similar
    to it that carry a DIFFERENT label — the classic hard negatives a
    contrastive trainer mines between epochs.

    Physical shape (the part that must survive 100 TB): the anchor set is
    small by construction (a training batch) → **broadcast**; the corpus is
    scanned ONCE; the non-equi `label <>` predicate rides the broadcast
    join; per-anchor top-k is a window partitioned by anchor — shuffle is
    corpus × n_anchors rows hashed on anchor_id, the same bound as
    `search_multi_query_knn`, and AQE coalesces the tiny post-filter side.
    No pairwise corpus × corpus blowup anywhere.
    """
    normed = _normed(spark, sf_dir)
    anchors = (normed.filter(F.col("vec_id") < _HN_ANCHORS)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("nv").alias("anchor_nv")))
    corpus = (normed.filter(F.col("vec_id") < _HN_CORPUS)
              .select(F.col("vec_id").alias("negative_id"),
                      F.col("label").alias("negative_label"), "nv"))
    scored = (corpus.join(
        F.broadcast(anchors),
        F.col("negative_label") != F.col("anchor_label"))
        .withColumn("cosine", _cosine("anchor_nv", "nv")))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _HN_K)
            .select("anchor_id", "anchor_label", "negative_id",
                    "negative_label", F.col("rnk").cast("long").alias("rnk"),
                    "cosine")
            .orderBy("anchor_id", "rnk"))


# ---------------------------------------------------------------------------
# 2. k-NN label evaluation (embedding-quality probe)

_EVAL_SPLIT = 450          # train: vec_id < 450; test: 450 <= vec_id < 500
_EVAL_TEST_HI = 500
_EVAL_K = 5

_SQL_KNN_EVAL = f"""
    WITH normed AS ({_SQL_NORMED}),
    train AS (SELECT * FROM normed WHERE vec_id < {_EVAL_SPLIT}),
    test AS (SELECT * FROM normed
             WHERE vec_id >= {_EVAL_SPLIT} AND vec_id < {_EVAL_TEST_HI}),
    scored AS (
      SELECT t.vec_id AS test_id, t.label AS true_label,
             tr.vec_id AS train_id, tr.label AS train_label,
             ROUND({sql_dot('t.nv', 'tr.nv')}, 6) AS cosine
      FROM test t JOIN train tr ON true),
    nn AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY test_id ORDER BY cosine DESC, train_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT test_id, true_label, train_label, COUNT(*) AS n_votes
      FROM nn WHERE rnk <= {_EVAL_K}
      GROUP BY test_id, true_label, train_label),
    winner AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY test_id
        ORDER BY n_votes DESC, train_label ASC) AS vr
      FROM votes)
    SELECT test_id, true_label, train_label AS pred_label,
           n_votes, (train_label = true_label) AS correct
    FROM winner WHERE vr = 1
    ORDER BY test_id
"""


@query(
    "embedding_knn_label_eval",
    survey="north-star training pipeline (k-NN majority-vote label "
           "evaluation of an embedding space: held-out split, C1 kNN + "
           "D4 vote aggregate)",
    oracle=_SQL_KNN_EVAL,
)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each held-out vector by majority vote of its k nearest
    train vectors (cosine), tie-broken (votes DESC, label ASC). The output
    is per-test-row so the parity hash pins every single prediction, not
    just the aggregate accuracy.

    Scale: the TEST side is the small one (an eval split, thousands) →
    broadcast it; the 100 TB train corpus is scanned once. Top-k per test
    id and the vote are both partial-aggregable. This is also exactly the
    shape of kNN-LM / retrieval-augmented eval jobs.
    """
    normed = _normed(spark, sf_dir)
    train = (normed.filter(F.col("vec_id") < _EVAL_SPLIT)
             .select(F.col("vec_id").alias("train_id"),
                     F.col("label").alias("train_label"), "nv"))
    test = (normed.filter((F.col("vec_id") >= _EVAL_SPLIT)
                          & (F.col("vec_id") < _EVAL_TEST_HI))
            .select(F.col("vec_id").alias("test_id"),
                    F.col("label").alias("true_label"),
                    F.col("nv").alias("test_nv")))
    scored = (train.crossJoin(F.broadcast(test))
              .withColumn("cosine", _cosine("test_nv", "nv")))
    w_nn = Window.partitionBy("test_id").orderBy(
        F.col("cosine").desc(), F.col("train_id").asc())
    votes = (scored.withColumn("rnk", F.row_number().over(w_nn))
             .filter(F.col("rnk") <= _EVAL_K)
             .groupBy("test_id", "true_label", "train_label")
             .agg(F.count(F.lit(1)).alias("n_votes")))
    w_win = Window.partitionBy("test_id").orderBy(
        F.col("n_votes").desc(), F.col("train_label").asc())
    return (votes.withColumn("vr", F.row_number().over(w_win))
            .filter(F.col("vr") == 1)
            .select("test_id", "true_label",
                    F.col("train_label").alias("pred_label"), "n_votes",
                    (F.col("train_label") == F.col("true_label"))
                    .alias("correct"))
            .orderBy("test_id"))


# ---------------------------------------------------------------------------
# 3. schema evolution: mergeSchema read over batches written years apart

@query(
    "store_schema_evolution",
    survey="A5/A7-adjacent (schema evolution: old parquet batches stay "
           "readable after columns are added; mergeSchema union + NULL "
           "backfill, the ADD COLUMN contract of Iceberg/Delta)",
    oracle="""
    SELECT * FROM (VALUES
      ('all_rows_survive',        true, CAST(60 AS BIGINT)),
      ('new_col_null_in_old',     true, CAST(40 AS BIGINT)),
      ('new_col_set_in_new',      true, CAST(20 AS BIGINT)),
      ('old_reader_still_works',  true, CAST(40 AS BIGINT)),
      ('schema_is_union',         true, CAST(4 AS BIGINT))
    ) AS t(check_name, ok, n) ORDER BY check_name
    """,
)
def store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write batch 1 with (doc_id, text, source); write batch 2 with an
    added ``quality double`` column; prove the five contracts a long-lived
    corpus needs: the merged read sees the union schema, every row
    survives, the new column is NULL exactly on old rows and populated
    exactly on new rows, and a reader pinned to the OLD schema still reads
    the old batch untouched.

    At 100 TB the merged read is metadata-only extra work: mergeSchema
    unions footers at planning time, and Parquet's missing-column read
    path materializes NULL vectors without touching data pages — no
    rewrite of old batches, ever. (The anti-pattern this replaces is a
    full-corpus rewrite per added column.)
    """
    import os

    root = scratch_dir("schema_evo_")
    docs = tbl(spark, sf_dir, "documents")
    old = (docs.filter(F.col("doc_id") < 40)
           .select("doc_id", "text", "source"))
    new = (docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
           .select("doc_id", "text", "source",
                   (F.length("text").cast("double") / 1000.0)
                   .alias("quality")))
    old.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2"))
    stats = merged.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("quality").isNull()
                     & (F.col("doc_id") < 40), 1).otherwise(0))
        .alias("n_old_null"),
        F.sum(F.when(F.col("quality").isNotNull()
                     & (F.col("doc_id") >= 40), 1).otherwise(0))
        .alias("n_new_set")).collect()[0]
    old_reader_n = spark.read.parquet(
        os.path.join(root, "batch=1")).count()
    cols = sorted(merged.columns)
    return spark.createDataFrame(
        [("all_rows_survive", int(stats["n_all"]) == 60, 60),
         ("new_col_null_in_old", int(stats["n_old_null"]) == 40, 40),
         ("new_col_set_in_new", int(stats["n_new_set"]) == 20, 20),
         ("old_reader_still_works", old_reader_n == 40, 40),
         ("schema_is_union",
          cols == ["doc_id", "quality", "source", "text"], 4)],
        "check_name string, ok boolean, n long").orderBy("check_name")


# ---------------------------------------------------------------------------
# 4. margin-based bitext mining (cross-lingual parallel-corpus candidates)

_BT_ANCHORS = 60           # en documents with doc_id < 60
_BT_CANDS = 200            # non-en documents with doc_id < 200
_BT_K = 4                  # neighborhood size for the margin normalizer
_BT_MARGIN = 1.0

# margin(x,y) = cos(x,y) / mean(top-k cos of x  ∪-avg  top-k cos of y)
# (Artetxe & Schwenk 2019 "ratio" margin, public method). The two top-k
# sums go through the scaled-BIGINT exact-sum pattern so aggregation order
# cannot perturb the margin in the last ulp on either engine.

_SQL_BITEXT = f"""
    WITH docs AS (
      SELECT d.doc_id, d.lang, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    normed AS (
      SELECT doc_id, lang,
             list_transform(embedding, x -> CAST(x AS DOUBLE) /
               (CASE WHEN {sql_l2_norm('embedding')} = 0 THEN 1.0
                     ELSE {sql_l2_norm('embedding')} END)) AS nv
      FROM docs),
    anchors AS (SELECT * FROM normed
                WHERE lang = 'en' AND doc_id < {_BT_ANCHORS}),
    cands AS (SELECT * FROM normed
              WHERE lang <> 'en' AND doc_id < {_BT_CANDS}),
    pairs AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS cand_id, c.lang AS cand_lang,
             ROUND({sql_dot('a.nv', 'c.nv')}, 6) AS cosine
      FROM anchors a CROSS JOIN cands c),
    arank AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                 ORDER BY cosine DESC, cand_id ASC) AS ra
      FROM pairs),
    asum AS (
      SELECT anchor_id,
             CAST(SUM(CAST(ROUND(cosine * 1000000) AS BIGINT)) AS BIGINT)
               AS sx_micro
      FROM arank WHERE ra <= {_BT_K} GROUP BY anchor_id),
    crank AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id
                 ORDER BY cosine DESC, anchor_id ASC) AS rc
      FROM pairs),
    csum AS (
      SELECT cand_id,
             CAST(SUM(CAST(ROUND(cosine * 1000000) AS BIGINT)) AS BIGINT)
               AS sy_micro
      FROM crank WHERE rc <= {_BT_K} GROUP BY cand_id),
    margins AS (
      SELECT p.anchor_id, p.cand_id, p.cand_lang, p.cosine,
             ROUND(p.cosine /
               ((a.sx_micro + c.sy_micro) /
                ({2.0 * _BT_K} * 1000000.0)), 6) AS margin
      FROM pairs p
      JOIN asum a ON a.anchor_id = p.anchor_id
      JOIN csum c ON c.cand_id = p.cand_id),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                 ORDER BY margin DESC, cand_id ASC) AS rb
      FROM margins)
    SELECT anchor_id, cand_id, cand_lang, cosine, margin
    FROM best WHERE rb = 1 AND margin >= {_BT_MARGIN}
    ORDER BY anchor_id
"""


@query(
    "crosslingual_bitext_candidates",
    survey="north-star training pipeline (margin-based bitext mining, "
           "Artetxe & Schwenk 2019: best other-language match per anchor "
           "scored by cosine over mean of both directions' k-NN "
           "neighborhoods — the parallel-corpus mining step of "
           "multilingual training data)",
    oracle=_SQL_BITEXT,
)
def crosslingual_bitext_candidates(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Mine translation-pair candidates: for each English anchor, the
    non-English document with the highest MARGIN score — raw cosine
    normalized by the mean of both endpoints' k-NN cosines, which kills
    the 'hub' vectors that plain cosine-thresholding would match to
    everything. Kept only when margin ≥ 1 (better than the candidate's
    average neighborhood).

    Scale: the pair space here is blocked by language and bounded ids; at
    100 TB the same margin arithmetic runs over ANN candidate lists
    (`ann_ivf_batch_indexed_knn` provides per-anchor top-k at index
    speed), so the quadratic stage never materializes — margins only ever
    score k·anchors rows. Both top-k neighborhoods and the final best-match
    are rank-limited windows (WindowGroupLimit partial top-k)."""
    docs = tbl(spark, sf_dir, "documents")
    emb = tbl(spark, sf_dir, "embeddings")
    normed = (docs.join(emb, docs.doc_id == emb.vec_id)
              .select("doc_id", "lang",
                      F.expr(l2_normalize_sql("embedding")).alias("nv")))
    anchors = (normed.filter((F.col("lang") == "en")
                             & (F.col("doc_id") < _BT_ANCHORS))
               .select(F.col("doc_id").alias("anchor_id"),
                       F.col("nv").alias("anchor_nv")))
    cands = (normed.filter((F.col("lang") != "en")
                           & (F.col("doc_id") < _BT_CANDS))
             .select(F.col("doc_id").alias("cand_id"),
                     F.col("lang").alias("cand_lang"), "nv"))
    pairs = (cands.crossJoin(F.broadcast(anchors))
             .withColumn("cosine", _cosine("anchor_nv", "nv"))
             .drop("anchor_nv", "nv"))
    micro = F.round(F.col("cosine") * 1000000).cast("long")
    w_a = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc())
    asum = (pairs.withColumn("ra", F.row_number().over(w_a))
            .filter(F.col("ra") <= _BT_K)
            .groupBy("anchor_id")
            .agg(F.sum(micro).cast("long").alias("sx_micro")))
    w_c = Window.partitionBy("cand_id").orderBy(
        F.col("cosine").desc(), F.col("anchor_id").asc())
    csum = (pairs.withColumn("rc", F.row_number().over(w_c))
            .filter(F.col("rc") <= _BT_K)
            .groupBy("cand_id")
            .agg(F.sum(micro).cast("long").alias("sy_micro")))
    margins = (pairs.join(asum, "anchor_id").join(csum, "cand_id")
               .withColumn("margin", F.round(
                   F.col("cosine") /
                   ((F.col("sx_micro") + F.col("sy_micro")) /
                    F.lit(2.0 * _BT_K * 1000000.0)), 6)))
    w_b = Window.partitionBy("anchor_id").orderBy(
        F.col("margin").desc(), F.col("cand_id").asc())
    return (margins.withColumn("rb", F.row_number().over(w_b))
            .filter((F.col("rb") == 1) & (F.col("margin") >= _BT_MARGIN))
            .select("anchor_id", "cand_id", "cand_lang", "cosine", "margin")
            .orderBy("anchor_id"))


# ---------------------------------------------------------------------------
# retrieval-quality eval: nDCG@10 over the labeled panel

_NDCG_K = 10
_NDCG_Q_LO, _NDCG_Q_HI = 450, 460
# discount weights 1/log2(i+1) and their prefix sums, in exact micro-units
# computed ONCE in Python and injected as literals into BOTH engines — so
# no libm log2 ulp divergence can ever enter the hash.
_NDCG_W = [1000000, 630930, 500000, 430677, 386853,
           356207, 333333, 315465, 301030, 289065]
_NDCG_PREFIX = [0, 1000000, 1630930, 2130930, 2561607, 2948460,
                3304667, 3638000, 3953465, 4254495, 4543560]


@query(
    "search_ndcg_eval",
    survey="north-star retrieval eval (nDCG@10 of the cosine ranking "
           "against label relevance — the standard graded search-quality "
           "metric, discount weights as shared exact literals)",
    oracle=f"""
    WITH normed AS ({_SQL_NORMED}),
    corpus AS (SELECT * FROM normed WHERE vec_id < {_NDCG_Q_LO}),
    q AS (SELECT vec_id AS qid, label AS qlabel, nv AS qnv FROM normed
          WHERE vec_id >= {_NDCG_Q_LO} AND vec_id < {_NDCG_Q_HI}),
    ranked AS (
      SELECT qid, qlabel, label, vec_id,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY ROUND(list_sum(list_transform(range(1, 65),
                 i -> nv[i] * qnv[i])), 6) DESC, vec_id ASC) AS rnk
      FROM corpus CROSS JOIN q),
    top AS (SELECT * FROM ranked WHERE rnk <= {_NDCG_K}),
    dcg AS (
      SELECT qid,
             SUM(CASE WHEN label = qlabel
                 THEN [{", ".join(str(w) for w in _NDCG_W)}][rnk]
                 ELSE 0 END) AS dcg_micro,
             SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS n_rel_top
      FROM top GROUP BY qid),
    totrel AS (
      SELECT q.qid, COUNT(*) AS r_total
      FROM q JOIN corpus c ON c.label = q.qlabel GROUP BY q.qid)
    SELECT d.qid, CAST(d.n_rel_top AS BIGINT) AS n_rel_top,
           CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
           CAST([{", ".join(str(p) for p in _NDCG_PREFIX)}]
                [CASE WHEN t.r_total < {_NDCG_K} THEN t.r_total
                      ELSE {_NDCG_K} END + 1] AS BIGINT) AS idcg_micro,
           ROUND(CAST(d.dcg_micro AS DOUBLE)
                 / [{", ".join(str(p) for p in _NDCG_PREFIX)}]
                   [CASE WHEN t.r_total < {_NDCG_K} THEN t.r_total
                         ELSE {_NDCG_K} END + 1], 6) AS ndcg
    FROM dcg d JOIN totrel t ON t.qid = d.qid
    ORDER BY d.qid
    """,
)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 per panel query: the cosine top-10 over the train corpus,
    graded by label agreement, discounted by the STANDARD 1/log2(rank+1)
    weights — but the weights (and their ideal-ranking prefix sums) are
    exact micro-unit literals computed once and shared by both engines,
    so DCG accumulates as integers and the only division is the final
    normalize. IDCG uses min(total relevant in corpus, 10) — true nDCG,
    not the in-window shortcut. Scale shape: panel broadcast, corpus
    scanned once, per-query partial top-k window — identical physics to
    ``embedding_knn_label_eval``."""
    w_lit = F.array(*[F.lit(w).cast("long") for w in _NDCG_W])
    p_lit = F.array(*[F.lit(p).cast("long") for p in _NDCG_PREFIX])
    normed = _normed(spark, sf_dir)
    corpus = normed.filter(F.col("vec_id") < _NDCG_Q_LO)
    q = (normed.filter((F.col("vec_id") >= _NDCG_Q_LO)
                       & (F.col("vec_id") < _NDCG_Q_HI))
         .select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("qlabel"),
                 F.col("nv").alias("qnv")))
    w_rank = Window.partitionBy("qid").orderBy(
        _cosine("nv", "qnv").desc(),
        F.col("vec_id").asc())
    top = (corpus.crossJoin(F.broadcast(q))
           .withColumn("rnk", F.row_number().over(w_rank))
           .filter(F.col("rnk") <= _NDCG_K))
    rel = (F.col("label") == F.col("qlabel")).cast("long")
    dcg = (top.groupBy("qid")
           .agg(F.sum(rel * F.element_at(w_lit, F.col("rnk")))
                .alias("dcg_micro"),
                F.sum(rel).alias("n_rel_top")))
    totrel = (q.join(corpus.select("label"),
                     q["qlabel"] == corpus["label"])
              .groupBy("qid").agg(F.count(F.lit(1)).alias("r_total")))
    idcg = F.element_at(
        p_lit, F.least(F.col("r_total"), F.lit(_NDCG_K)).cast("int") + 1)
    return (dcg.join(totrel, "qid")
            .select("qid",
                    F.col("n_rel_top").cast("long").alias("n_rel_top"),
                    F.col("dcg_micro").cast("long").alias("dcg_micro"),
                    idcg.cast("long").alias("idcg_micro"),
                    F.round(F.col("dcg_micro").cast("double") / idcg, 6)
                    .alias("ndcg"))
            .orderBy("qid"))


# ---------------------------------------------------------------------------
# ZCA whitening of the embedding space (distributed exact moments,
# bounded driver eigendecomposition, invariant-pinned contract)

_ZCA_DIM = 64
_ZCA_SCALE = 1_000_000_000
_ZCA_EPS = 1e-6


@query(
    "embedding_whitening_zca",
    survey="training extension(ZCA whitening: distributed exact "
           "first/second-moment accumulation, dim-bounded driver "
           "eigendecomposition, broadcast rotation, whitened-covariance "
           "identity verified distributed; the retrieval-preprocessing "
           "step behind whitened sentence embeddings)",
    oracle=f"""
    WITH cells AS (
      SELECT j,
             SUM(CAST(ROUND(ROUND(CAST(embedding[j + 1] AS DOUBLE), 9)
                            * {_ZCA_SCALE}) AS BIGINT)) AS s1_micro,
             SUM(CAST(ROUND(ROUND(CAST(embedding[j + 1] AS DOUBLE)
                                  * CAST(embedding[j + 1] AS DOUBLE), 9)
                            * {_ZCA_SCALE}) AS BIGINT)) AS s2_micro
      FROM embeddings, UNNEST(range(0, {_ZCA_DIM})) AS t(j)
      GROUP BY j),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings)
    SELECT n.n_vectors,
           ROUND(SUM((s2_micro / {_ZCA_SCALE}.0) / n.n_vectors
                     - ((s1_micro / {_ZCA_SCALE}.0) / n.n_vectors)
                       * ((s1_micro / {_ZCA_SCALE}.0) / n.n_vectors)), 6)
             AS trace_cov,
           TRUE AS zca_symmetric_ok,
           TRUE AS whitened_identity_ok
    FROM cells, n GROUP BY n.n_vectors
    """,
)
def embedding_whitening_zca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening (Bell & Sejnowski 1997's zero-phase transform; the
    "whitening-BERT" preprocessing for sentence embeddings): W =
    U diag(1/sqrt(lambda+eps)) U^T from the covariance eigendecomposition —
    the unique symmetric whitener, which keeps whitened vectors closest to
    the originals.

    Scale shape (the procrustes contract pattern): the data-proportional
    work is exact moment accumulation — d first moments and d^2 Gram cells
    as integer micro-units (partial-aggregable; never corpus-sized state);
    the eigendecomposition is d x d on the driver (dim-bounded, like the
    ANN centroid collects); the rotation rides back through
    ann.codebook_transport_sql for ONE distributed transform pass whose
    whitened covariance is re-accumulated and checked against the identity
    (max |cov_w - I| < 1e-3). The oracle pins n, the EXACT covariance
    trace from the same micro-unit sums, and the two invariants any
    correct whitener satisfies (W symmetric, whitened cov = I)."""
    import numpy as np

    from server2_vector_search_server_spark.operators.ann import (
        codebook_transport_sql,
    )

    d = _ZCA_DIM
    emb = tbl(spark, sf_dir, "embeddings").select("embedding")
    x_micro = F.round(F.round(F.col("x").cast("double"), 9) * _ZCA_SCALE) \
        .cast("long")
    jx = emb.select(F.posexplode("embedding").alias("j", "x"),
                    F.col("embedding"))
    cells = (jx.select(
        "j", F.col("x"), x_micro.alias("s1c"),
        F.round(F.round(F.col("x").cast("double")
                        * F.col("x").cast("double"), 9)
                * _ZCA_SCALE).cast("long").alias("s2c"),
        F.posexplode("embedding").alias("k", "y"))
        .groupBy("j", "k")
        .agg(F.sum(F.when(F.col("k") == 0, F.col("s1c"))).alias("s1_micro"),
             F.sum(F.when(F.col("k") == 0, F.col("s2c"))).alias("s2_micro"),
             F.sum(F.round(F.col("x").cast("double") * F.col("y")
                           * _ZCA_SCALE).cast("long")).alias("g_micro"),
             F.count(F.lit(1)).alias("n"))
        .collect())
    n = cells[0]["n"]
    s1 = np.zeros(d)
    s2 = np.zeros(d)
    G = np.zeros((d, d))
    for r in cells:
        G[r["j"], r["k"]] = r["g_micro"] / _ZCA_SCALE
        if r["k"] == 0:
            s1[r["j"]] = r["s1_micro"] / _ZCA_SCALE
            s2[r["j"]] = r["s2_micro"] / _ZCA_SCALE
    mu = s1 / n
    cov = G / n - np.outer(mu, mu)
    lam, U = np.linalg.eigh((cov + cov.T) / 2.0)
    W = np.round(U @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0.0) + _ZCA_EPS))
                 @ U.T, 9)
    symmetric_ok = bool(np.abs(W - W.T).max() < 1e-8)
    mu_r = np.round(mu, 9)

    rows = [{"centroid_id": j, "centroid": W[j, :].tolist()}
            for j in range(d)]
    paired, w_sql, _ids = codebook_transport_sql(
        emb, rows, centroid_id_col="centroid_id",
        centroid_vec_col="centroid")
    mu_lit = F.array(*[F.lit(float(v)).cast("double") for v in mu_r])
    centered = (f"transform(sequence(0, {d - 1}), j -> "
                f"cast(element_at(embedding, j + 1) as double) "
                f"- element_at(_mu, j + 1))")
    whitened = (f"transform(sequence(0, {d - 1}), k -> "
                f"aggregate(sequence(0, {d - 1}), cast(0.0 as double), "
                f"(acc, j) -> acc + element_at(_cx, j + 1) "
                f"* element_at(element_at(_w, j + 1), k + 1)))")
    ydf = (paired.withColumn("_mu", mu_lit).withColumn("_w", F.expr(w_sql))
           .withColumn("_cx", F.expr(centered))
           .select(F.expr(whitened).alias("y")))
    wcells = (ydf.select(F.posexplode("y").alias("j", "yj"), F.col("y"))
              .select("j", "yj", F.posexplode("y").alias("k", "yk"))
              .groupBy("j", "k")
              .agg(F.sum(F.col("yj") * F.col("yk")).alias("s"),
                   F.sum(F.when(F.col("k") == 0, F.col("yj"))).alias("m"))
              .collect())
    S = np.zeros((d, d))
    m = np.zeros(d)
    for r in wcells:
        S[r["j"], r["k"]] = r["s"]
        if r["k"] == 0:
            m[r["j"]] = r["m"]
    cov_w = S / n - np.outer(m / n, m / n)
    identity_ok = bool(np.abs(cov_w - np.eye(d)).max() < 1e-3)

    ndf = spark.createDataFrame(
        [(int(n),)], "n_vectors long")
    # exact trace from the SAME micro-unit sums the oracle uses
    # (identical op order: s2/n - (s1/n)^2 per dim, summed, rounded)
    s1m = [int(round(v * _ZCA_SCALE)) for v in s1.tolist()]
    s2m = [int(round(v * _ZCA_SCALE)) for v in s2.tolist()]
    trace = round(sum((b / _ZCA_SCALE) / n - ((a / _ZCA_SCALE) / n)
                      * ((a / _ZCA_SCALE) / n)
                      for a, b in zip(s1m, s2m)), 6)
    return ndf.select(
        "n_vectors",
        F.lit(float(trace)).alias("trace_cov"),
        F.lit(symmetric_ok).alias("zca_symmetric_ok"),
        F.lit(identity_ok).alias("whitened_identity_ok"))


# ---------------------------------------------------------------------------
# retrieval-quality eval: MRR and MAP@10 over the same labeled panel

_RR_W = [1000000, 500000, 333333, 250000, 200000,
         166667, 142857, 125000, 111111, 100000]   # round(1e6 / rank)


@query(
    "search_mrr_map_eval",
    survey="north-star retrieval eval (MRR and MAP@10 of the cosine "
           "ranking against label relevance — the binary-relevance "
           "companions to search_ndcg_eval; reciprocal-rank and "
           "precision-at-k weights as shared exact literals)",
    oracle=f"""
    WITH normed AS ({_SQL_NORMED}),
    corpus AS (SELECT * FROM normed WHERE vec_id < {_NDCG_Q_LO}),
    q AS (SELECT vec_id AS qid, label AS qlabel, nv AS qnv FROM normed
          WHERE vec_id >= {_NDCG_Q_LO} AND vec_id < {_NDCG_Q_HI}),
    ranked AS (
      SELECT qid, qlabel, label,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY ROUND(list_sum(list_transform(range(1, 65),
                 i -> nv[i] * qnv[i])), 6) DESC, vec_id ASC) AS rnk
      FROM corpus CROSS JOIN q),
    top AS (
      SELECT qid, rnk, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
             SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
               OVER (PARTITION BY qid ORDER BY rnk
                     ROWS UNBOUNDED PRECEDING) AS cum_rel
      FROM ranked WHERE rnk <= {_NDCG_K}),
    perq AS (
      SELECT qid,
             COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0)
               AS first_rel_rank,
             SUM(rel * cum_rel
                 * [{", ".join(str(w) for w in _RR_W)}][rnk]) AS ap_num,
             SUM(rel) AS n_rel_top
      FROM top GROUP BY qid),
    totrel AS (
      SELECT q.qid, COUNT(*) AS r_total
      FROM q JOIN corpus c ON c.label = q.qlabel GROUP BY q.qid)
    SELECT p.qid, CAST(p.first_rel_rank AS BIGINT) AS first_rel_rank,
           ROUND(CASE WHEN p.first_rel_rank = 0 THEN 0.0
                 ELSE [{", ".join(str(w) for w in _RR_W)}]
                      [p.first_rel_rank] / 1000000.0 END, 6)
             AS reciprocal_rank,
           ROUND(CAST(p.ap_num AS DOUBLE) / 1000000.0
                 / (CASE WHEN t.r_total < {_NDCG_K} THEN t.r_total
                         ELSE {_NDCG_K} END), 6) AS ap_at_10
    FROM perq p JOIN totrel t ON t.qid = p.qid
    ORDER BY p.qid
    """,
)
def search_mrr_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and MAP@10 per panel query — binary-relevance quality metrics
    next to nDCG: the reciprocal rank of the first relevant hit and the
    average of precision-at-k over relevant positions (normalized by
    min(R, 10), the truncated-AP convention). The 1/rank weights are
    exact micro-unit literals shared by both engines, so AP folds as
    integers (rel_k * cum_rel_k * inv_k) and the only divisions are
    final. Same broadcast-panel/one-scan physics as search_ndcg_eval."""
    w_lit = F.array(*[F.lit(w).cast("long") for w in _RR_W])
    normed = _normed(spark, sf_dir)
    corpus = normed.filter(F.col("vec_id") < _NDCG_Q_LO)
    q = (normed.filter((F.col("vec_id") >= _NDCG_Q_LO)
                       & (F.col("vec_id") < _NDCG_Q_HI))
         .select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("qlabel"),
                 F.col("nv").alias("qnv")))
    w_rank = Window.partitionBy("qid").orderBy(
        _cosine("nv", "qnv").desc(),
        F.col("vec_id").asc())
    w_cum = (Window.partitionBy("qid").orderBy("rnk")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    top = (corpus.crossJoin(F.broadcast(q))
           .withColumn("rnk", F.row_number().over(w_rank))
           .filter(F.col("rnk") <= _NDCG_K)
           .withColumn("rel", (F.col("label") == F.col("qlabel"))
                       .cast("long"))
           .withColumn("cum_rel", F.sum("rel").over(w_cum)))
    perq = (top.groupBy("qid")
            .agg(F.coalesce(
                F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0))
                .alias("first_rel_rank"),
                F.sum(F.col("rel") * F.col("cum_rel")
                      * F.element_at(w_lit, F.col("rnk")))
                .alias("ap_num")))
    totrel = (q.join(corpus.select("label"),
                     q["qlabel"] == corpus["label"])
              .groupBy("qid").agg(F.count(F.lit(1)).alias("r_total")))
    return (perq.join(totrel, "qid")
            .select("qid",
                    F.col("first_rel_rank").cast("long")
                    .alias("first_rel_rank"),
                    F.round(F.when(F.col("first_rel_rank") == 0, 0.0)
                            .otherwise(
                        F.element_at(w_lit,
                                     F.col("first_rel_rank").cast("int"))
                        / 1_000_000.0), 6).alias("reciprocal_rank"),
                    F.round(F.col("ap_num").cast("double") / 1_000_000.0
                            / F.least(F.col("r_total"), F.lit(_NDCG_K)), 6)
                    .alias("ap_at_10"))
            .orderBy("qid"))


# ---------------------------------------------------------------------------
# Per-dimension quantile (rank-uniform) normalization

@query(
    "embedding_quantile_normalize",
    survey="training extension(per-dimension quantile normalization: "
           "rank-to-uniform mapping u = rank/(n+1) with deterministic "
           "ties — the distribution-free feature scaling; per-dim rank "
           "sums pin the whole permutation)",
    oracle="""
    WITH x AS (
      SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(0, 64)) AS t(j)),
    ranked AS (
      SELECT vec_id, j, v,
             row_number() OVER (PARTITION BY j ORDER BY v, vec_id) AS rk,
             COUNT(*) OVER (PARTITION BY j) AS n
      FROM x)
    SELECT j AS dim,
           CAST(SUM(rk) AS BIGINT) AS rank_sum,
           ROUND(CAST(SUM(rk) AS DOUBLE)
                 / (COUNT(*) * (COUNT(*) + 1)), 6) AS mean_u,
           ROUND(CAST(MAX(CASE WHEN vec_id = 0 THEN rk END) AS DOUBLE)
                 / (MAX(n) + 1), 6) AS u_vec0
    FROM ranked GROUP BY j ORDER BY j
    """,
)
def embedding_quantile_normalize(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Quantile (rank-uniform) normalization per embedding dimension:
    each value maps to rank/(n+1) in (0,1) — the distribution-free
    scaling that equalizes marginals before distance computations (the
    genomics-standard quantile normalize, rank-to-uniform form). Ties
    break by vec_id so the permutation is engine-identical; the per-dim
    rank SUM must equal n(n+1)/2 exactly (mean_u = 0.5 — a permutation
    integrity check the hash pins), and vec 0's normalized coordinate is
    reported per dim.

    Scale shape: one posexplode to (dim, value) rows, ranks from a
    window PARTITIONED BY DIM (64-way parallel, each partition n rows —
    at larger n the per-dim two-pass prefix scan applies, the
    Gini/Spearman discipline)."""
    from pyspark.sql import Window

    emb = tbl(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", F.posexplode("embedding").alias("j", "v0")) \
        .select("vec_id", "j", F.col("v0").cast("double").alias("v"))
    w = Window.partitionBy("j").orderBy("v", "vec_id")
    ranked = (x.withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1))
                          .over(Window.partitionBy("j"))))
    return (ranked.groupBy(F.col("j").alias("dim"))
            .agg(F.sum("rk").cast("long").alias("rank_sum"),
                 F.round(F.sum("rk").cast("double")
                         / (F.count(F.lit(1))
                            * (F.count(F.lit(1)) + 1)), 6).alias("mean_u"),
                 F.round(F.max(F.when(F.col("vec_id") == 0, F.col("rk")))
                         .cast("double") / (F.max("n") + 1), 6)
                 .alias("u_vec0"))
            .orderBy("dim"))
