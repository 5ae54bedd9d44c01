"""Insight-layer query surface: link prediction, attribution, interval
ranking, audio fingerprint matching, passage-level retrieval, runtime-filter
join pruning, and crawl quota sampling.

These extend the engine beyond the reference's document-search surface
(reference scope: vector_store.py:139-214 similarity search + app.py:400-460
score contract) into the analytics a large training-data platform runs on
the same tables — every query here is a DataFrame plan with a DuckDB oracle
twin (registry parity rules: scaled-integer exact sums, identical float op
order, deterministic tie-breaks).

Scale notes inline per query; the recurring shapes:
  * neighbor-key self-joins are degree-capped (Adamic-Adar) so shuffle is
    Σ deg² over BOUNDED degrees, not celebrity-node quadratic;
  * window attribution carries O(1) state per user partition;
  * landmark fingerprint matching is an equi-join on a bounded hash domain
    (the Shazam/Wang-2003 shape) — never a distance scan;
  * the Bloom-gated join is the explicit twin of Spark's runtime-filter
    pushdown: fact rows that cannot match never reach the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark.plans.registry import query, tbl

# ---------------------------------------------------------------------------
# 1. Adamic-Adar link prediction over the supplier->customer bipartite graph

_AA_MIN_DEG = 2     # deg-1 customers cannot witness a pair (and ln(1)=0)
_AA_MAX_DEG = 64    # degree cap: celebrity nodes contribute ~1/ln(deg)->0
                    # weight but deg^2 pairs; capping bounds the self-join


@query(
    "graph_adamic_adar_links",
    survey="graph-extension(link prediction: Adamic-Adar common-neighbor "
           "weighting over the supplier->customer shipment graph; "
           "degree-capped neighbor self-join)",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS supp, o_custkey AS cust
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    cdeg AS (
      SELECT cust, COUNT(*) AS n_supp FROM edges GROUP BY cust),
    cw AS (
      SELECT cust,
             CAST(ROUND(ROUND(1.0 / ln(CAST(n_supp AS DOUBLE)), 9)
                        * 1000000000) AS BIGINT) AS w_micro
      FROM cdeg WHERE n_supp >= {_AA_MIN_DEG} AND n_supp <= {_AA_MAX_DEG}),
    pairs AS (
      SELECT a.supp AS s1, b.supp AS s2, cw.w_micro
      FROM edges a JOIN edges b ON a.cust = b.cust AND a.supp < b.supp
      JOIN cw ON cw.cust = a.cust)
    SELECT s1, s2, COUNT(*) AS common_customers,
           ROUND(SUM(w_micro) / 1000000000.0, 6) AS adamic_adar
    FROM pairs GROUP BY s1, s2
    ORDER BY SUM(w_micro) DESC, s1, s2 LIMIT 20
    """,
)
def graph_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): score a candidate
    supplier pair by Σ 1/ln(deg(c)) over shared customers c — the standard
    neighbor-overlap feature for graph ML candidate generation.

    Scale shape: ONE shuffle — the joined fact groups straight into a
    per-customer distinct-supplier set (collect_set partial-aggregates
    map-side), and pairs are generated IN-ARRAY from the sorted set, so
    the fan-out is deg(c)²/2 rows bounded by the degree cap: a customer
    served by >64 suppliers contributes ≈0 weight per pair but deg² rows,
    so it is dropped — the celebrity-node cap every production
    link-prediction pipeline applies. (The equivalent pair self-join
    through the neighbor key computes the edge plan twice and shuffles
    three times; this form was measured 2.3× faster at sf0.1.)
    Per-customer weights fold as integer micro-units (registry exact-sum
    rules) so the ranking is shuffle-order independent. The neighbor
    sets group over the session-shared DISTINCT shipment pair set
    (``graph_queries.shipment_pairs`` — collect_set dedups anyway, so
    grouping pre-distincted pairs is result-identical to grouping the
    joined fact), sharing one edge build across the graph bench family
    (VERDICT r7 #3)."""
    from server2_vector_search_server_spark.plans.graph_queries import (
        shipment_pairs,
    )

    byc = (shipment_pairs(spark, sf_dir)
           .groupBy(F.col("o_custkey").alias("cust"))
           .agg(F.sort_array(F.collect_set("l_suppkey")).alias("supps"))
           .filter((F.size("supps") >= _AA_MIN_DEG)
                   & (F.size("supps") <= _AA_MAX_DEG))
           # the grouped table is tiny (one row per customer) so AQE
           # coalesces it to ~2 partitions — but the next stage explodes
           # deg^2 rows per customer, so spread the fan-out (SCALE.md §30).
           # NOT to all cores: the pair-key domain is dense (every pair of
           # hot suppliers co-occurs), so each extra partition re-buffers
           # the whole key domain in its map-side partial aggregate —
           # measured at sf0.1: 2 parts 7.1 s, 8 parts 2.7 s, 32 parts
           # 7.2 s. cores/4 balances explode parallelism against
           # partial-agg duplication.
           .repartition(max(8, spark.sparkContext.defaultParallelism // 4),
                        "cust"))
    w_micro = (F.round(F.round(1.0 / F.log(F.size("supps").cast("double")),
                               9) * 1_000_000_000).cast("long"))
    # pairs ride the explode as ONE bigint (s1 * 2^31 + s2) — a struct
    # fan-out at deg^2 rows per customer was measured 2x slower (per-row
    # struct allocation); the key decomposes after the aggregate
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(supps) - 2), i -> "
        "transform(sequence(i + 1, size(supps) - 1), j -> "
        "shiftleft(cast(supps[i] as bigint), 31) "
        "+ cast(supps[j] as bigint))))")
    pairs = (byc.select(w_micro.alias("w_micro"),
                        F.explode(pair_expr).alias("pk")))
    agg = (pairs.groupBy("pk")
           .agg(F.count(F.lit(1)).alias("common_customers"),
                F.sum("w_micro").alias("_aa_micro"))
           .select(F.shiftright("pk", 31).cast("int").alias("s1"),
                   F.expr("cast(pk & 2147483647 as int)").alias("s2"),
                   "common_customers", "_aa_micro"))
    return (agg.orderBy(F.col("_aa_micro").desc(), "s1", "s2").limit(20)
            .select("s1", "s2", "common_customers",
                    F.round(F.col("_aa_micro") / 1_000_000_000.0, 6)
                    .alias("adamic_adar")))


# ---------------------------------------------------------------------------
# 2. First/last-touch attribution of purchase value to marketing touches

_TOUCH_TYPES = ("click", "view")


@query(
    "events_attribution_credit",
    survey="event-analytics extension(marketing attribution: each purchase "
           "credits its value to the user's first / most recent prior "
           "touch event via ignore-nulls window carries)",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch
      FROM events),
    m AS (
      SELECT event_type, value,
             last_value(touch IGNORE NULLS) OVER w AS last_touch,
             first_value(touch IGNORE NULLS) OVER w AS first_touch
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (
      SELECT * FROM m
      WHERE event_type = 'purchase' AND last_touch IS NOT NULL)
    SELECT 'first_touch' AS model, first_touch AS touch_type,
           COUNT(*) AS n_conversions,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS attributed_cents
    FROM conv GROUP BY first_touch
    UNION ALL
    SELECT 'last_touch' AS model, last_touch AS touch_type,
           COUNT(*) AS n_conversions,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS attributed_cents
    FROM conv GROUP BY last_touch
    ORDER BY model, touch_type
    """,
)
def events_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch revenue attribution: every purchase
    credits its value to the user's first-ever / most-recent preceding
    marketing touch (click/view), the two canonical single-touch models in
    every product-analytics warehouse.

    Scale shape: one window pass per user partition — ``first``/``last``
    with ``ignorenulls`` over an UNBOUNDED PRECEDING .. 1 PRECEDING frame
    carry O(1) state per partition (Spark evaluates running frames
    incrementally), so the whole attribution is one shuffle on user_id
    followed by a tiny per-touch-type aggregate. Cents fold as BIGINT."""
    ev = tbl(spark, sf_dir, "events")
    touch = F.when(F.col("event_type").isin(*_TOUCH_TYPES),
                   F.col("event_type"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    conv = (ev.withColumn("_touch", touch)
            .withColumn("last_touch",
                        F.last("_touch", ignorenulls=True).over(w))
            .withColumn("first_touch",
                        F.first("_touch", ignorenulls=True).over(w))
            .filter((F.col("event_type") == "purchase")
                    & F.col("last_touch").isNotNull()))
    cents = F.round(F.col("value") * 100).cast("long")
    # melt both models out of ONE window pass (a union of two aggregates
    # would recompute the user_id exchange per branch — plan-audited)
    melted = conv.select(
        F.explode(F.array(
            F.struct(F.lit("first_touch").alias("model"),
                     F.col("first_touch").alias("touch_type")),
            F.struct(F.lit("last_touch").alias("model"),
                     F.col("last_touch").alias("touch_type")))).alias("m"),
        cents.alias("cents"))
    return (melted
            .select(F.col("m.model").alias("model"),
                    F.col("m.touch_type").alias("touch_type"), "cents")
            .groupBy("model", "touch_type")
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 F.sum("cents").alias("attributed_cents"))
            .orderBy("model", "touch_type"))


# ---------------------------------------------------------------------------
# 3. Wilson-score lower-bound ranking (rank by certainty, not raw rate)

_WILSON_Z = 1.96          # 95% interval
_WILSON_MIN_N = 20
_WILSON_SUCCESS = 60.0    # success := value >= 60


@query(
    "events_wilson_ctr_ranking",
    survey="event-analytics extension(Wilson score interval: rank entities "
           "by the LOWER BOUND of their success proportion so small-n "
           "flukes cannot outrank well-measured performers)",
    oracle=f"""
    WITH agg AS (
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(*) FILTER (value >= {_WILSON_SUCCESS}) AS n_success
      FROM events GROUP BY user_id HAVING COUNT(*) >= {_WILSON_MIN_N}),
    d AS (
      SELECT user_id, n_events, n_success,
             CAST(n_success AS DOUBLE) / CAST(n_events AS DOUBLE) AS p,
             CAST(n_events AS DOUBLE) AS n,
             CAST({_WILSON_Z} AS DOUBLE) AS z
      FROM agg)
    SELECT user_id, n_events, n_success,
           ROUND(p, 6) AS success_rate,
           ROUND(((p + (z * z) / (n * 2))
                  - z * sqrt((p * (1 - p) + (z * z) / (n * 4)) / n))
                 / (1 + (z * z) / n), 6) AS wilson_lb
    FROM d
    ORDER BY wilson_lb DESC, user_id LIMIT 25
    """,
)
def events_wilson_ctr_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank users by the Wilson score interval's lower bound on their
    success proportion (Wilson 1927; the "how not to sort by average
    rating" ranking): a user with 5/5 must not outrank one with 90/100.

    Scale shape: a single partial-aggregable groupBy (count + conditional
    count), then pure projection math — nothing after the one shuffle is
    data-proportional. Float determinism: both engines evaluate the
    identical expression tree in IEEE double (sqrt and / are correctly
    rounded), then round to 6 decimals."""
    ev = tbl(spark, sf_dir, "events")
    agg = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.count(F.when(F.col("value") >= _WILSON_SUCCESS, 1))
                .alias("n_success"))
           .filter(F.col("n_events") >= _WILSON_MIN_N))
    n = F.col("n_events").cast("double")
    p = F.col("n_success").cast("double") / n
    z = F.lit(float(_WILSON_Z))
    z2 = z * z
    lb = F.round(
        ((p + z2 / (n * 2))
         - z * F.sqrt((p * (F.lit(1) - p) + z2 / (n * 4)) / n))
        / (F.lit(1) + z2 / n), 6)
    return (agg.select("user_id", "n_events", "n_success",
                       F.round(p, 6).alias("success_rate"),
                       lb.alias("wilson_lb"))
            .orderBy(F.col("wilson_lb").desc(), "user_id").limit(25))


# ---------------------------------------------------------------------------
# 4. Audio landmark fingerprint matching (Shazam / Wang 2003 shape)

_FP_DOC_LO, _FP_DOC_HI = 10, 99   # corpus clip ids
_FP_QUERY_DOC = 42                # the query clip is doc 42 ...
_FP_QUERY_SKIP = 3                # ... starting at analysis window 3

# landmark construction constants (shared by both engines through the SQL
# strings below): 16 analysis windows per clip, peak bin = digest byte % 64,
# anchors pair with the next 1..2 peaks, hash = f1*192 + f2*3 + dt.
_SQL_FBINS = ("list_transform(range(0, 16), t -> "
              "CAST(('0x' || substr(dig, 2 * t + 1, 2)) AS INTEGER) % 64)")


def _sql_landmarks(peaks_cte: str) -> str:
    return f"""
      SELECT media_id, CAST(t AS INTEGER) AS t,
             f[t + 1] * 192 + f[t + d + 1] * 3 + CAST(d AS INTEGER) AS h
      FROM {peaks_cte}, UNNEST(range(0, 14)) AS ut(t),
           UNNEST(range(1, 3)) AS ud(d)
"""


@query(
    "multimodal_audio_fingerprint_match",
    survey="multimodal extension(audio landmark fingerprinting: per-window "
           "spectral peaks -> anchor-pair landmark hashes -> equi-join "
           "match with time-offset voting; deterministic digest-stub "
           "spectrogram, same plumbing contract as the image/video stages)",
    oracle=f"""
    WITH media AS (
      SELECT md5(text) AS media_id, sha256(text) AS dig
      FROM documents
      WHERE doc_id BETWEEN {_FP_DOC_LO} AND {_FP_DOC_HI}),
    peaks AS (SELECT media_id, {_SQL_FBINS} AS f FROM media),
    corpus_lm AS ({_sql_landmarks('peaks')}),
    qm AS (
      SELECT md5(text) AS media_id, sha256(text) AS dig
      FROM documents WHERE doc_id = {_FP_QUERY_DOC}),
    qpeaks AS (SELECT media_id, {_SQL_FBINS} AS f FROM qm),
    qlm AS ({_sql_landmarks('qpeaks')}),
    query_lm AS (
      SELECT t - {_FP_QUERY_SKIP} AS qt, h
      FROM qlm WHERE t >= {_FP_QUERY_SKIP})
    SELECT c.media_id, CAST(c.t - q.qt AS INTEGER) AS t_offset,
           COUNT(*) AS votes
    FROM corpus_lm c JOIN query_lm q ON c.h = q.h
    GROUP BY c.media_id, c.t - q.qt
    ORDER BY votes DESC, media_id, t_offset LIMIT 5
    """,
)
def multimodal_audio_fingerprint_match(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Audio identification by landmark hashing (the public Shazam design,
    Wang 2003): each clip yields spectral-peak landmarks (anchor peak,
    paired peak, time delta) hashed into a bounded domain; a query clip
    matches by EQUI-JOINING landmark hashes and voting on the corpus-time −
    query-time offset — the true source wins with a consistent offset.

    The "spectrogram" is the deterministic digest stub the other multimodal
    stages use (real decoders are absent here; reference scope analog:
    document_processor.py's binary ingestion): peak bins derive from
    sha256 bytes, so the oracle reproduces them bit-for-bit. Swapping in a
    real FFT peak-picker changes only the peak extraction, not the plan.

    Scale shape: matching is a hash equi-join (shuffle ∝ landmarks, ~22 per
    clip) + a (media, offset) count — never a pairwise signal comparison.
    The vote histogram is partial-aggregable; top-5 is
    TakeOrderedAndProject."""
    docs = tbl(spark, sf_dir, "documents")
    media = (docs.filter((F.col("doc_id") >= _FP_DOC_LO)
                         & (F.col("doc_id") <= _FP_DOC_HI))
             .select(F.md5(F.col("text")).alias("media_id"),
                     F.sha2(F.col("text"), 256).alias("dig")))
    fbins = F.expr("transform(sequence(0, 15), t -> "
                   "cast(conv(substr(dig, 2 * t + 1, 2), 16, 10) as int) "
                   "% 64)")
    lm = F.expr("flatten(transform(sequence(0, 13), t -> "
                "transform(sequence(1, 2), d -> "
                "named_struct('t', t, "
                "'h', f[t] * 192 + f[t + d] * 3 + d))))")
    corpus_lm = (media.withColumn("f", fbins).withColumn("_lm", lm)
                 .select("media_id", F.explode("_lm").alias("l"))
                 .select("media_id", F.col("l.t").alias("t"),
                         F.col("l.h").alias("h")))
    qm = (docs.filter(F.col("doc_id") == _FP_QUERY_DOC)
          .select(F.sha2(F.col("text"), 256).alias("dig")))
    query_lm = (qm.withColumn("f", fbins).withColumn("_lm", lm)
                .select(F.explode("_lm").alias("l"))
                .select(F.col("l.t").alias("t"), F.col("l.h").alias("h"))
                .filter(F.col("t") >= _FP_QUERY_SKIP)
                .select((F.col("t") - _FP_QUERY_SKIP).alias("qt"), "h"))
    return (corpus_lm.join(F.broadcast(query_lm), "h")
            .groupBy("media_id",
                     (F.col("t") - F.col("qt")).cast("int")
                     .alias("t_offset"))
            .agg(F.count(F.lit(1)).alias("votes"))
            .orderBy(F.col("votes").desc(), "media_id", "t_offset")
            .limit(5))


# ---------------------------------------------------------------------------
# 5. Passage-level MaxP document ranking (RAG first-stage shape)

_MAXP_TERMS = ("join", "vector", "spark", "query")
_MAXP_WINDOW = 120
_MAXP_DOC_HI = 300
_SQL_MAXP_TERMS = ", ".join(f"'{t}'" for t in _MAXP_TERMS)


@query(
    "search_passage_maxp",
    survey="retrieval extension(passage-level MaxP document ranking: "
           "fixed-width passage fan-out, per-passage lexical scoring, "
           "doc score = max over its passages — Dai & Callan 2019)",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, CAST(k AS INTEGER) AS passage_idx,
             substr(text, CAST(k * {_MAXP_WINDOW} + 1 AS INTEGER),
                    {_MAXP_WINDOW}) AS passage
      FROM documents,
           UNNEST(range(CAST(floor((length(text) - 1) / {_MAXP_WINDOW})
                             AS BIGINT) + 1)) AS u(k)
      WHERE doc_id < {_MAXP_DOC_HI} AND length(text) > 0),
    scored AS (
      SELECT doc_id, passage_idx,
             len(list_filter(
                   list_filter(string_split_regex(trim(lower(passage)),
                                                  '\\s+'), x -> x <> ''),
                   t -> t IN ({_SQL_MAXP_TERMS}))) AS hits
      FROM p),
    best AS (
      SELECT doc_id, passage_idx AS best_passage, hits AS maxp
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY hits DESC, passage_idx) = 1)
    SELECT doc_id, best_passage, maxp
    FROM best WHERE maxp > 0
    ORDER BY maxp DESC, doc_id LIMIT 15
    """,
)
def search_passage_maxp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxP document ranking (Dai & Callan 2019, public method): long
    documents are fanned out into fixed-width passages, each passage is
    scored against the query independently, and a document ranks by its
    BEST passage — the standard way both BERT rerankers and RAG retrieval
    handle documents longer than the scorer's window.

    Scale shape: the passage fan-out is a generator expression (sequence +
    explode) inside the scan stage — no shuffle to create passages; the
    per-doc argmax is one row_number window partitioned by doc_id (shuffle
    keyed on doc_id, partial top-1); final top-15 is
    TakeOrderedAndProject. Swapping the lexical hit count for a Pandas-UDF
    cross-encoder score changes only the scoring column."""
    from server2_vector_search_server_spark.functions.text import tokens

    docs = (tbl(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < _MAXP_DOC_HI)
                    & (F.length("text") > 0)))
    k = F.explode(F.sequence(
        F.lit(0),
        F.floor((F.length("text") - 1) / _MAXP_WINDOW).cast("int")))
    passages = (docs.select("doc_id", "text", k.alias("k"))
                .select("doc_id", F.col("k").alias("passage_idx"),
                        F.expr(f"substr(text, cast(passage_idx * "
                               f"{_MAXP_WINDOW} + 1 as int), "
                               f"{_MAXP_WINDOW})").alias("passage")))
    hits = F.size(F.filter(tokens(F.lower(F.col("passage"))),
                           lambda t: t.isin(*_MAXP_TERMS)))
    scored = passages.select("doc_id", "passage_idx", hits.alias("hits"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), F.col("passage_idx").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("hits") > 0))
            .select("doc_id", F.col("passage_idx").alias("best_passage"),
                    F.col("hits").alias("maxp"))
            .orderBy(F.col("maxp").desc(), "doc_id").limit(15))


# ---------------------------------------------------------------------------
# 6. Year-over-year growth at an aggregated grain

@query(
    "nation_yoy_revenue_growth",
    survey="OLAP extension(period-over-period: yearly revenue per nation "
           "with lag-window growth rates at the aggregated grain)",
    oracle="""
    WITH rev AS (
      SELECT n_name AS nation, year(o_orderdate) AS yr,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, year(o_orderdate))
    SELECT nation, CAST(yr AS INTEGER) AS yr, rev_cents,
           ROUND((CAST(rev_cents - lag(rev_cents) OVER w AS DOUBLE)
                  / CAST(lag(rev_cents) OVER w AS DOUBLE)) * 100, 6)
             AS yoy_pct
    FROM rev
    WINDOW w AS (PARTITION BY nation ORDER BY yr)
    ORDER BY nation, yr
    """,
)
def nation_yoy_revenue_growth(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: aggregate to the
    (nation, year) grain, then a lag window AT THAT GRAIN — the standard
    period-over-period report shape. The window runs over ≤ nations×years
    rows (post-aggregation), so its sort is trivial no matter the fact
    size; the only data-proportional shuffle is the grain aggregation,
    which partial-aggregates map-side. Cents are BIGINT end-to-end; the
    growth ratio is the only float, rounded identically on both engines."""
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    rev = (orders
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("yr"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("rev_cents")))
    w = Window.partitionBy("nation").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return (rev.select(
        "nation", F.col("yr").cast("int").alias("yr"), "rev_cents",
        F.round(((F.col("rev_cents") - prev).cast("double")
                 / prev.cast("double")) * 100, 6).alias("yoy_pct"))
        .orderBy("nation", "yr"))


# ---------------------------------------------------------------------------
# 7. Bloom-gated fact-dim join (explicit runtime-filter pushdown)

_BLOOM_YEAR = 1996
_BLOOM_PRIORITY = "1-URGENT"


@query(
    "lineitem_bloom_join_prune",
    survey="scale-extension(runtime-filter join pruning: a Bloom filter "
           "built over the qualifying dimension keys gates the fact scan "
           "BEFORE the join shuffle; the exact join afterwards drops the "
           "one-sided false positives, so the result equals the plain "
           "join bit-for-bit)",
    oracle=f"""
    SELECT month(l_shipdate) AS ship_month,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '{_BLOOM_PRIORITY}'
      AND year(o_orderdate) = {_BLOOM_YEAR}
    GROUP BY month(l_shipdate)
    ORDER BY ship_month
    """,
)
def lineitem_bloom_join_prune(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The runtime-filter join: build a Bloom filter over the QUALIFYING
    order keys (urgent 1996 orders — a selective dimension predicate),
    broadcast it, and gate the lineitem scan on might-contain BEFORE any
    shuffle; then the exact (broadcast) join removes Bloom false positives,
    so the result is bit-identical to the plain join the oracle runs.

    This is the explicit, plan-visible twin of Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` injection: at 100 TB the
    fact rows that cannot match never enter the join exchange — the gate is
    a codegen'd expression over a broadcast 8 KiB bitset
    (operators/dedup.build_bloom: distributed bit_or build, ≤ m/64 rows to
    the driver). FPs are one-sided, which is why gate+exact-join preserves
    equality (same argument as dedup_bloom_incremental,
    operators/dedup.py:948)."""
    from server2_vector_search_server_spark.operators.dedup import (
        bloom_might_contain,
        bloom_positions,
        build_bloom,
    )

    orders = tbl(spark, sf_dir, "orders")
    dim = (orders.filter(
        (F.col("o_orderpriority") == _BLOOM_PRIORITY)
        & (F.year("o_orderdate") == _BLOOM_YEAR))
        .select("o_orderkey"))
    # r10: hash the BIGINT key directly — the old string cast allocated a
    # string per fact row purely to feed xxhash64 (both sides changed
    # together, so positions stay consistent; and even a changed FP set
    # would be invisible: the exact join drops every false positive
    # one-sidedly). A/B -5%; a pre-probe spread measured +18% (the probe
    # is codegen'd native hashing — the exchange costs more than it
    # parallelizes).
    bloom = build_bloom(dim.select(F.col("o_orderkey").alias("k")), "k")
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    gated = (li.withColumn("_pos", bloom_positions(F.col("l_orderkey")))
        .join(F.broadcast(bloom))
        .filter(bloom_might_contain("_pos", "bloom_words"))
        .drop("_pos", "bloom_words"))
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (gated.join(F.broadcast(dim),
                       gated.l_orderkey == dim.o_orderkey)
            .groupBy(F.month("l_shipdate").alias("ship_month"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(rev_cents).alias("revenue_cents"))
            .orderBy("ship_month"))


# ---------------------------------------------------------------------------
# 8. Per-domain quota sampling (crawl curation cap)

_QUOTA_PER_SOURCE = 10


@query(
    "documents_domain_quota_sample",
    survey="curation extension(per-domain quota sampling: cap each source "
           "at N docs by a quality ranking — the crawl-curation guard "
           "against any one domain dominating the training mix)",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (rn <= {_QUOTA_PER_SOURCE}) AS n_kept,
           CAST(SUM(n_chars) FILTER (rn <= {_QUOTA_PER_SOURCE}) AS BIGINT)
             AS kept_chars,
           CAST(MIN(n_chars) FILTER (rn <= {_QUOTA_PER_SOURCE}) AS BIGINT)
             AS cut_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def documents_domain_quota_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: rank each source's documents by a quality
    proxy (length desc, id tie-break) and keep at most N per source — the
    standard crawl-curation cap that stops a single domain from dominating
    a training mix (every public web-corpus recipe applies one).

    Scale shape: one shuffle keyed on source for the row_number window
    (skewed sources are exactly the rows the cap discards, and Spark's
    window top-k is rank-limited per partition), then a per-source
    conditional aggregate over the already-partitioned rows — the second
    groupBy reuses the window's partitioning, so no extra exchange."""
    docs = tbl(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    kept = F.col("rn") <= _QUOTA_PER_SOURCE
    return (docs.withColumn("rn", F.row_number().over(w))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count(F.when(kept, 1)).alias("n_kept"),
                 F.sum(F.when(kept, F.col("n_chars"))).cast("long")
                 .alias("kept_chars"),
                 F.min(F.when(kept, F.col("n_chars"))).cast("long")
                 .alias("cut_chars"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# 9. Association rules with confidence + lift (basket mining layer 2)

_RULE_MIN_BOTH = 3
_RULE_TOP = 25


@query(
    "orders_association_rules",
    survey="pattern-mining extension(association rules from pair supports: "
           "confidence + lift per directed rule, the layer on top of "
           "frequent-itemset mining)",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    ic AS (SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
    p2 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= {_RULE_MIN_BOTH}),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, n_both FROM p2
      UNION ALL
      SELECT p2 AS antecedent, p1 AS consequent, n_both FROM p2)
    SELECT r.antecedent, r.consequent, CAST(r.n_both AS BIGINT) AS n_both,
           ROUND(CAST(r.n_both AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6)
             AS confidence,
           ROUND((CAST(r.n_both AS DOUBLE) * CAST(nb.n AS DOUBLE))
                 / (CAST(ia.cnt AS DOUBLE) * CAST(ic2.cnt AS DOUBLE)), 6)
             AS lift
    FROM rules r
    JOIN ic ia ON ia.l_partkey = r.antecedent
    JOIN ic ic2 ON ic2.l_partkey = r.consequent
    CROSS JOIN nb
    ORDER BY lift DESC, antecedent, consequent LIMIT {_RULE_TOP}
    """,
)
def orders_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (Agrawal et al. 1993 metrics) on top of
    pair supports: confidence = P(consequent | antecedent) and
    lift = confidence / P(consequent) for every pair bought together in
    ≥ 3 orders, both directions.

    Scale shape: the pair generation is the co-partitioned basket
    self-join (one shuffle on l_orderkey, as part_pair_affinity); item
    supports are a second partial-aggregable groupBy whose output is
    catalog-sized, so both rule joins broadcast. The basket total is a
    single bounded count. Floats appear only in the final projection,
    with identical operand order on both engines."""
    items = (tbl(spark, sf_dir, "lineitem")
             .select("l_orderkey", "l_partkey").distinct())
    n_baskets = items.select("l_orderkey").distinct().count()
    ic = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    p2 = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .groupBy(F.col("a.l_partkey").alias("p1"),
                   F.col("b.l_partkey").alias("p2"))
          .agg(F.count(F.lit(1)).alias("n_both"))
          .filter(F.col("n_both") >= _RULE_MIN_BOTH))
    rules = (p2.select(F.col("p1").alias("antecedent"),
                       F.col("p2").alias("consequent"), "n_both")
             .unionByName(p2.select(
                 F.col("p2").alias("antecedent"),
                 F.col("p1").alias("consequent"), "n_both")))
    ia = ic.select(F.col("l_partkey").alias("_ak"),
                   F.col("cnt").alias("_acnt"))
    ib = ic.select(F.col("l_partkey").alias("_ck"),
                   F.col("cnt").alias("_ccnt"))
    conf = F.col("n_both").cast("double") / F.col("_acnt").cast("double")
    lift = ((F.col("n_both").cast("double")
             * F.lit(float(n_baskets)))
            / (F.col("_acnt").cast("double")
               * F.col("_ccnt").cast("double")))
    return (rules
            .join(F.broadcast(ia), F.col("antecedent") == F.col("_ak"))
            .join(F.broadcast(ib), F.col("consequent") == F.col("_ck"))
            .select("antecedent", "consequent",
                    F.col("n_both").cast("long").alias("n_both"),
                    F.round(conf, 6).alias("confidence"),
                    F.round(lift, 6).alias("lift"))
            .orderBy(F.col("lift").desc(), "antecedent", "consequent")
            .limit(_RULE_TOP))


# ---------------------------------------------------------------------------
# 10. A/B experiment readout: conversion lift + sample-ratio-mismatch guard

_AB_CONV_VALUE = 95.0      # converts := any purchase with value >= 95
_AB_SRM_CRIT = 3.841       # chi-square 95% critical value, 1 dof


@query(
    "events_abtest_lift_srm",
    survey="event-analytics extension(A/B experiment readout: deterministic "
           "hash-split variants, per-variant conversion + revenue, relative "
           "lift, and the sample-ratio-mismatch chi-square guard)",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                            1, 2)) AS INTEGER) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             COUNT(*) FILTER (event_type = 'purchase'
                              AND value >= {_AB_CONV_VALUE}) AS n_conv,
             CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                  FILTER (event_type = 'purchase'), 0) AS BIGINT) AS cents
      FROM events GROUP BY user_id),
    v AS (
      SELECT COUNT(*) FILTER (variant = 'A') AS na,
             COUNT(*) FILTER (variant = 'B') AS nb,
             COUNT(*) FILTER (variant = 'A' AND n_conv > 0) AS ca,
             COUNT(*) FILTER (variant = 'B' AND n_conv > 0) AS cb,
             CAST(SUM(cents) FILTER (variant = 'A') AS BIGINT) AS rev_a,
             CAST(SUM(cents) FILTER (variant = 'B') AS BIGINT) AS rev_b
      FROM u),
    d AS (
      SELECT *, CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS ra,
             CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS rb,
             (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2 AS e
      FROM v)
    SELECT na AS n_users_a, nb AS n_users_b, rev_a, rev_b,
           ROUND(ra, 6) AS conv_rate_a, ROUND(rb, 6) AS conv_rate_b,
           ROUND((rb - ra) / ra, 6) AS rel_lift,
           ROUND((na - e) * (na - e) / e + (nb - e) * (nb - e) / e, 6)
             AS srm_chi2,
           ((na - e) * (na - e) / e + (nb - e) * (nb - e) / e)
             < {_AB_SRM_CRIT} AS srm_ok
    FROM d
    """,
)
def events_abtest_lift_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into variants by a DETERMINISTIC
    portable hash (md5 of the user id — the split any engine can
    reproduce), per-variant conversion rates and revenue, the relative
    lift, and the sample-ratio-mismatch chi-square (Fabijan et al. 2019)
    that every experimentation platform runs before trusting a result —
    a skewed assignment ratio invalidates the experiment regardless of
    the lift.

    Scale shape: one groupBy(user) with conditional aggregates (shuffle ∝
    users), then a single-row summary fold — partial-aggregable
    throughout. Chi-square math is pure projection on the one-row frame."""
    ev = tbl(spark, sf_dir, "events")
    variant = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2),
               16, 10).cast("int") % 2 == 0, "A").otherwise("B")
    is_purchase = F.col("event_type") == "purchase"
    u = (ev.groupBy("user_id")
         .agg(F.count(F.when(is_purchase
                             & (F.col("value") >= _AB_CONV_VALUE), 1))
              .alias("n_conv"),
              F.coalesce(F.sum(F.when(
                  is_purchase,
                  F.round(F.col("value") * 100).cast("long"))),
                  F.lit(0)).cast("long").alias("cents"))
         .withColumn("variant", variant))
    v = u.agg(
        F.count(F.when(F.col("variant") == "A", 1)).alias("na"),
        F.count(F.when(F.col("variant") == "B", 1)).alias("nb"),
        F.count(F.when((F.col("variant") == "A")
                       & (F.col("n_conv") > 0), 1)).alias("ca"),
        F.count(F.when((F.col("variant") == "B")
                       & (F.col("n_conv") > 0), 1)).alias("cb"),
        F.sum(F.when(F.col("variant") == "A", F.col("cents")))
        .cast("long").alias("rev_a"),
        F.sum(F.when(F.col("variant") == "B", F.col("cents")))
        .cast("long").alias("rev_b"))
    ra = F.col("ca").cast("double") / F.col("na").cast("double")
    rb = F.col("cb").cast("double") / F.col("nb").cast("double")
    e = (F.col("na").cast("double") + F.col("nb").cast("double")) / 2
    chi2 = ((F.col("na") - e) * (F.col("na") - e) / e
            + (F.col("nb") - e) * (F.col("nb") - e) / e)
    return v.select(
        F.col("na").alias("n_users_a"), F.col("nb").alias("n_users_b"),
        "rev_a", "rev_b",
        F.round(ra, 6).alias("conv_rate_a"),
        F.round(rb, 6).alias("conv_rate_b"),
        F.round((rb - ra) / ra, 6).alias("rel_lift"),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 < _AB_SRM_CRIT).alias("srm_ok"))


# ---------------------------------------------------------------------------
# 11. Session metrics (gaps-and-islands sessionization + per-user rollup)

_SESSION_GAP_S = 1800


@query(
    "events_session_metrics",
    survey="event-analytics extension(batch sessionization metrics: "
           "30-min-gap islands, per-user session counts, bounce rate "
           "inputs, session length extrema)",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id), ts)
                    > {_SESSION_GAP_S}
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, event_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS session_id
      FROM o),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             date_diff('second', MIN(ts), MAX(ts)) AS dur_s
      FROM s GROUP BY user_id, session_id)
    SELECT user_id,
           COUNT(*) AS n_sessions,
           COUNT(*) FILTER (n_events = 1) AS n_bounces,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(MAX(dur_s) AS BIGINT) AS max_session_seconds,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
             AS avg_session_events
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
)
def events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by the 30-minute-gap rule (gaps-and-islands:
    a lag window flags session starts, a running sum numbers them) and the
    product metrics a warehouse reports per user: session count, bounces
    (single-event sessions), longest session by events and by wall time,
    mean events per session — the batch twin of the
    ``session_window`` streaming aggregation, on identical gap semantics.

    Scale shape: everything is windowed/grouped under ONE user_id
    partitioning — Spark reuses the exchange across the lag window, the
    running sum, and both aggregates; nothing after the single shuffle is
    more than per-user-sized. Durations compare floor-second epochs on
    both engines (date_diff('second') ≡ unix-second subtraction)."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_s = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts))
           > _SESSION_GAP_S), 1).otherwise(0)
    s = (ev.select("user_id", "ts", "event_id")
         .withColumn("new_s", new_s)
         .withColumn("session_id", F.sum("new_s").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    per_session = (s.groupBy("user_id", "session_id")
                   .agg(F.count(F.lit(1)).alias("n_events"),
                        (F.unix_timestamp(F.max("ts"))
                         - F.unix_timestamp(F.min("ts"))).alias("dur_s")))
    return (per_session.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.count(F.when(F.col("n_events") == 1, 1))
                 .alias("n_bounces"),
                 F.max("n_events").cast("long")
                 .alias("max_session_events"),
                 F.max("dur_s").cast("long").alias("max_session_seconds"),
                 F.round(F.sum("n_events").cast("double")
                         / F.count(F.lit(1)), 6)
                 .alias("avg_session_events"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# 12. Language-ID confusion matrix (prediction quality eval)

from server2_vector_search_server_spark.plans.text_queries import (
    _SQL_PRED_LANG,
)


@query(
    "documents_langid_confusion",
    survey="text-analysis extension(language-ID evaluation: actual × "
           "predicted confusion matrix over the labeled corpus)",
    oracle=f"""
    SELECT lang AS actual_lang, {_SQL_PRED_LANG} AS predicted_lang,
           COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """,
)
def documents_langid_confusion(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword-hit language-ID heuristic against
    the corpus's labeled ``lang`` column — the evaluation every classifier
    in the curation funnel needs before its predictions gate data. One
    groupBy over (actual, predicted); the predictor is the same pure
    column expression text_language_id registers, so the matrix row for
    (lang = predicted) over the matrix total is the classifier accuracy."""
    from server2_vector_search_server_spark.operators import (
        text_analysis as ta,
    )

    docs = tbl(spark, sf_dir, "documents")
    return (docs
            .withColumn("predicted_lang",
                        ta.detect_language(F.col("text")))
            .groupBy(F.col("lang").alias("actual_lang"), "predicted_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id"))
            .orderBy("actual_lang", "predicted_lang"))


# ---------------------------------------------------------------------------
# 13. Canonical-doc selection: keep the best document per near-dup cluster

@query(
    "curation_keep_best_per_cluster",
    survey="curation extension(dedup finishing step: within each MinHash "
           "near-dup connected component, keep the highest-quality member "
           "— argmax by length with id tie-break — instead of an arbitrary "
           "canonical min-id)",
    oracle=None,  # set below from the dedup fragments
)
def curation_keep_best_per_cluster(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The step after near-dup detection that decides WHICH copy survives:
    connected components over the MinHash pair graph (same pair contract
    as dedup_minhash_lsh), then per component keep the member maximizing
    (length, id) — production pipelines keep the best-quality copy, not an
    arbitrary representative, because near-dup members differ (the planted
    perturbed variants here are strictly longer, so the argmax provably
    diverges from the min-id canonical the component summary uses).

    Scale shape: component resolution is the iterative min-label join
    (SCALE.md §12 bounds); the quality argmax is one row_number window per
    component — shuffle keyed on component id, partial top-1."""
    from server2_vector_search_server_spark.operators import dedup, graph
    from server2_vector_search_server_spark.plans.dedup_queries import (
        _MINHASH_THRESHOLD,
        _docs_with_dups,
    )

    pairs = dedup.minhash_near_duplicates(
        _docs_with_dups(spark, sf_dir),
        threshold=_MINHASH_THRESHOLD).select("id_a", "id_b")
    comps = graph.connected_components(pairs, "id_a", "id_b")
    # fresh plan for the quality join — comps' node column descends from the
    # same doc_id lineage (ROUND_NOTES r3 same-lineage join gotcha)
    docs = _docs_with_dups(spark, sf_dir)
    scored = (comps.join(docs, comps.node == docs.doc_id)
              .select("component", "doc_id",
                      F.length("text").cast("long").alias("n_chars")))
    w = Window.partitionBy("component")
    rn = F.row_number().over(
        w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
    return (scored
            .withColumn("n_members", F.count(F.lit(1)).over(w))
            .withColumn("_rn", rn)
            .filter(F.col("_rn") == 1)
            .select("component", F.col("n_members").cast("long")
                    .alias("n_members"),
                    F.col("doc_id").alias("kept_doc"),
                    F.col("n_chars").alias("kept_chars"))
            .orderBy("component"))


def _install_keep_best_oracle() -> None:
    from server2_vector_search_server_spark.plans import dedup_queries as dq
    from server2_vector_search_server_spark.plans.registry import (
        REGISTRY,
        RegisteredQuery,
    )

    sql = f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({dq._SQL_MINHASH})),
    nodes AS (SELECT id_a AS node FROM pairs UNION SELECT id_b FROM pairs),
    edges_bi AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b AS a, id_a AS b FROM pairs),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.a AS node, r.lbl FROM edges_bi e JOIN reach r ON e.b = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    docs3 AS ({dq._SQL_DOCS}),
    scored AS (
      SELECT c.component, c.node AS doc_id,
             CAST(length(d.text) AS BIGINT) AS n_chars
      FROM comp c JOIN docs3 d ON d.doc_id = c.node)
    SELECT component, n_members, doc_id AS kept_doc, n_chars AS kept_chars
    FROM (
      SELECT component, doc_id, n_chars,
             CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM scored)
    WHERE rn = 1 ORDER BY component
    """
    rq = REGISTRY["curation_keep_best_per_cluster"]
    REGISTRY["curation_keep_best_per_cluster"] = RegisteredQuery(
        rq.name, rq.fn, sql, rq.survey_ref)


_install_keep_best_oracle()


# ---------------------------------------------------------------------------
# 14. Streaming Bloom-filter upkeep: incremental dedup gate, replay-safe

@query(
    "streaming_bloom_dedup_upkeep",
    survey="I × north-star dedup (incremental Bloom maintenance: per-batch "
           "word partials bit_or-merged across micro-batches, batch-0 "
           "replay folded in idempotently — the streamed filter gates the "
           "same incremental-dedup batch as dedup_bloom_incremental and "
           "must produce the identical exact answer, because OR-merge is "
           "associative/commutative/idempotent and the verify join removes "
           "the one-sided FPs)",
    oracle="""
    WITH corpus AS (
        SELECT md5(text) AS content_hash FROM documents WHERE doc_id < 400
    ), batch AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM documents WHERE doc_id >= 400
        UNION ALL
        SELECT doc_id + 30000 AS doc_id, md5(text) AS content_hash
        FROM documents WHERE doc_id < 50
    )
    SELECT b.doc_id, b.content_hash FROM batch b
    WHERE NOT EXISTS (
        SELECT 1 FROM corpus c WHERE c.content_hash = b.content_hash)
    ORDER BY b.doc_id
    """,
)
def streaming_bloom_dedup_upkeep(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """dedup_bloom_incremental's filter maintained AS A STREAM: the corpus
    (doc_id < 400) arrives in micro-batches; each batch writes its Bloom
    WORD PARTIALS (word_idx, bit_or of masks — ≤ m/64 rows per batch,
    regardless of batch size) into its own ingest_batch partition; an
    at-least-once replay of batch 0 is folded in idempotently (OR is
    idempotent — re-committing the same bits cannot change the filter,
    the same argument that makes the CMS upkeep SUM-exact). Serving
    bit_or-merges ≤ batches·m/64 word rows into the 8 KiB filter, gates
    the incremental batch map-side, and the exact verify join removes the
    one-sided false positives — so the streamed filter must produce the
    IDENTICAL new-docs answer as the batch oracle."""
    import os

    from server2_vector_search_server_spark.operators.dedup import (
        BLOOM_BITS,
        bloom_might_contain,
        bloom_positions,
    )
    from server2_vector_search_server_spark.plans.registry import (
        scratch_dir,
        staged_source,
    )

    docs = tbl(spark, sf_dir, "documents")
    corpus = (docs.filter(F.col("doc_id") < 400)
              .select("doc_id", "text"))
    src = staged_source(spark, sf_dir, "documents_lt400", 6, lambda: corpus)
    state = scratch_dir("bloom_state_") + "/words"

    def process(b: DataFrame, batch_id: int) -> None:
        (b.select(F.explode(bloom_positions(F.md5("text"))).alias("pos"))
         .groupBy(F.shiftright(F.col("pos"), 6).cast("int")
                  .alias("word_idx"))
         .agg(F.bit_or(F.expr(
             "shiftleft(cast(1 as bigint), cast(pos % 64 as int))"))
             .alias("word"))
         .withColumn("ingest_batch", F.lit(int(batch_id)))
         .write.mode("overwrite").partitionBy("ingest_batch")
         .option("partitionOverwriteMode", "dynamic").parquet(state))

    import uuid as _uuid

    from server2_vector_search_server_spark.plans.registry import (
        state_partitions,
    )

    with state_partitions(spark):
        q = (spark.readStream.schema("doc_id long, text string")
             .option("maxFilesPerTrigger", 2).parquet(src)
             .writeStream.foreachBatch(process)
             .option("checkpointLocation",
                     scratch_dir(f"bloom_ckpt_{_uuid.uuid4().hex[:6]}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # replay batch 0's exact partials under its original id (idempotent OR)
    b0 = (spark.read.parquet(state).filter(F.col("ingest_batch") == 0)
          .select("word_idx", "word").localCheckpoint(eager=True))
    (b0.withColumn("ingest_batch", F.lit(0))
     .write.mode("overwrite").partitionBy("ingest_batch")
     .option("partitionOverwriteMode", "dynamic").parquet(state))

    merged = (spark.read.parquet(state)
              .groupBy("word_idx").agg(F.bit_or("word").alias("word"))
              .collect())
    words = [0] * ((BLOOM_BITS + 63) // 64)
    for r in merged:
        words[r["word_idx"]] = r["word"]
    bloom = spark.createDataFrame([(words,)],
                                  "bloom_words array<bigint>")

    genuine = docs.filter(F.col("doc_id") >= 400)
    replayed = (docs.filter(F.col("doc_id") < 50)
                .withColumn("doc_id", F.col("doc_id") + 30000))
    batch = (genuine.unionByName(replayed)
             .select("doc_id", F.md5("text").alias("content_hash")))
    candidates = (batch
                  .withColumn("_pos", bloom_positions(F.col("content_hash")))
                  .join(F.broadcast(bloom))
                  .filter(bloom_might_contain("_pos", "bloom_words"))
                  .drop("_pos", "bloom_words"))
    corpus_keys = corpus.select(F.md5("text").alias("content_hash"))
    maybe_new = batch.join(candidates.select("doc_id"), "doc_id",
                           "left_anti")
    verified = candidates.join(corpus_keys, "content_hash", "left_anti")
    return (maybe_new.unionByName(verified)
            .select("doc_id", "content_hash").orderBy("doc_id"))


# ---------------------------------------------------------------------------
# 15. Orthogonal Procrustes embedding-space alignment (distributed Gram,
#     bounded driver SVD, invariant-pinned contract)

_PROC_DIM = 64
_PROC_SCALE = 1_000_000_000   # micro-units for the exact Gram accumulation


@query(
    "embedding_procrustes_alignment",
    survey="training extension(cross-space embedding alignment: orthogonal "
           "Procrustes — distributed exact cross-Gram accumulation, d×d "
           "SVD on the driver (bounded by dim², never by corpus), rotation "
           "broadcast back for the alignment-error pass; contract pinned "
           "by engine-independent invariants)",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           TRUE AS orthonormal_ok,
           TRUE AS recovered_ok,
           TRUE AS improved_ok
    FROM embeddings
    """,
)
def embedding_procrustes_alignment(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment (Schönemann 1966 — the public method
    behind cross-lingual embedding alignment à la MUSE/vecmap): given
    paired vectors (x, y) in two spaces, find the orthogonal W minimizing
    ‖XW − Y‖_F, i.e. W = UVᵀ from the SVD of M = XᵀY.

    The paired space here is a KNOWN planted orthogonal transform
    (coordinate reversal + alternating sign flips), so recovery is
    provable: the solver must return exactly that rotation, and the
    invariants the oracle pins — W orthonormal, post-alignment error ≈ 0,
    ≥10× better than the identity baseline — hold for ANY correct
    implementation (the established bounded-invariant contract pattern,
    SURVEY §8.4).

    Scale shape: the ONLY data-proportional work is the cross-Gram
    M = Σ_n x xᵀ-style accumulation — a double posexplode into (j, k,
    x_j·y_k) integer micro-unit partials, partial-aggregable into exactly
    d² = 4,096 cells regardless of corpus size; the SVD runs on the driver
    over the d×d matrix (dim-bounded, like the ANN centroid collects); the
    rotation rides back via ann.codebook_transport_sql (4,096 floats → ONE
    broadcast row, SCALE §32) for a single scan computing alignment error
    as an exact aggregate."""
    import numpy as np

    from server2_vector_search_server_spark.operators.ann import (
        codebook_transport_sql,
    )

    d = _PROC_DIM
    emb = (tbl(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").alias("x")))
    # planted target space: y[i] = (+1/-1 alternating) * x[d-1-i]
    y_expr = F.expr(
        f"transform(sequence(0, {d - 1}), i -> "
        f"cast((case when i % 2 = 0 then 1.0 else -1.0 end) "
        f"* element_at(x, {d} - i) as double))")
    pairs = emb.withColumn("y", y_expr)

    # distributed exact cross-Gram: M[j][k] = Σ x_j * y_k in micro-units
    jx = pairs.select(
        "y", F.posexplode("x").alias("j", "xj"))
    cells = (jx.select("j", F.posexplode("y").alias("k", "yk"),
                       F.col("xj"))
             .groupBy("j", "k")
             .agg(F.sum(F.round(F.col("xj").cast("double")
                                * F.col("yk") * _PROC_SCALE)
                        .cast("long")).alias("m_micro"))
             .collect())
    M = np.zeros((d, d))
    for r in cells:
        M[r["j"], r["k"]] = r["m_micro"] / _PROC_SCALE
    U, _, Vt = np.linalg.svd(M)
    W = np.round(U @ Vt, 9)
    ortho_dev = float(np.abs(W.T @ W - np.eye(d)).max())

    rows = [{"centroid_id": j, "centroid": W[j, :].tolist()}
            for j in range(d)]
    paired, w_sql, _ids = codebook_transport_sql(
        pairs, rows, centroid_id_col="centroid_id",
        centroid_vec_col="centroid")
    aligned = (
        f"transform(sequence(0, {d - 1}), k -> "
        f"aggregate(sequence(0, {d - 1}), cast(0.0 as double), "
        f"(acc, j) -> acc + element_at(x, j + 1) "
        f"* element_at(element_at(_w, j + 1), k + 1)))")
    errs = (paired.withColumn("_w", F.expr(w_sql))
            .withColumn("_aligned", F.expr(aligned))
            .select(
                F.expr(f"aggregate(sequence(0, {d - 1}), "
                       f"cast(0.0 as double), (acc, k) -> acc + "
                       f"pow(element_at(_aligned, k + 1) "
                       f"- element_at(y, k + 1), 2))").alias("e_aligned"),
                F.expr(f"aggregate(sequence(0, {d - 1}), "
                       f"cast(0.0 as double), (acc, k) -> acc + "
                       f"pow(cast(element_at(x, k + 1) as double) "
                       f"- element_at(y, k + 1), 2))").alias("e_ident")))
    agg = errs.agg(F.count(F.lit(1)).alias("n_pairs"),
                   F.avg("e_aligned").alias("ma"),
                   F.avg("e_ident").alias("mi"))
    return agg.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.lit(bool(ortho_dev < 1e-4)).alias("orthonormal_ok"),
        (F.col("ma") < 1e-6).alias("recovered_ok"),
        (F.col("mi") > 10 * F.greatest(F.col("ma"), F.lit(1e-12)))
        .alias("improved_ok"))


# ---------------------------------------------------------------------------
# 16. Incremental join-view maintenance (delta-join algebra, append-only)

@query(
    "store_incremental_join_view",
    survey="store extension(incremental materialized JOIN view: ΔV = "
           "ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB appended to the initial load — the "
           "delta-join algebra streaming_incremental_rollup applies to "
           "aggregates, extended to two-sided join views; final view "
           "hash-equals the from-scratch join)",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def store_incremental_join_view(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """A materialized join view maintained by DELTAS instead of rebuilds:
    initial load V₀ = A₀⋈B₀, then one maintenance step folds in new rows
    on BOTH sides via the standard incremental-view-maintenance identity
    ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB (append-only case of Blakeley et al.
    1986). The final aggregate over the maintained view must hash-equal
    the from-scratch join — the correctness contract that makes delta
    maintenance deployable.

    Scale shape: the maintenance step's cost is Δ-proportional — each
    delta term joins a BATCH against one stored side (broadcast here;
    key-bucketed co-location at cluster scale) and appends; the base
    tables are never re-joined. At 100 TB the rebuild this replaces is
    the single largest recurring shuffle a warehouse runs."""
    from server2_vector_search_server_spark.plans.registry import scratch_dir

    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    cust = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    a0 = orders.filter(F.col("o_orderkey") % 4 != 3)
    da = orders.filter(F.col("o_orderkey") % 4 == 3)
    b0 = cust.filter(F.col("c_custkey") % 5 != 4)
    db = cust.filter(F.col("c_custkey") % 5 == 4)

    view = scratch_dir("ivm_join_view_") + "/v"
    (a0.join(F.broadcast(b0), a0.o_custkey == b0.c_custkey)
     .select("o_orderkey", "o_totalprice", "c_mktsegment")
     .write.mode("overwrite").parquet(view))
    delta = (
        da.join(F.broadcast(b0), da.o_custkey == b0.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_mktsegment")
        .unionByName(
            a0.join(F.broadcast(db), a0.o_custkey == db.c_custkey)
            .select("o_orderkey", "o_totalprice", "c_mktsegment"))
        .unionByName(
            da.join(F.broadcast(db), da.o_custkey == db.c_custkey)
            .select("o_orderkey", "o_totalprice", "c_mktsegment")))
    delta.write.mode("append").parquet(view)

    v = spark.read.parquet(view)
    return (v.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("total_cents"))
            .orderBy("c_mktsegment"))


# ---------------------------------------------------------------------------
# 17. Video scene-cut segmentation (frame-difference islands, pure arrays)

_SCENE_FRAMES = 32
_SCENE_CUT = 64    # |Δ intensity| >= 64 opens a new scene


@query(
    "multimodal_video_scene_cuts",
    survey="multimodal extension(video scene segmentation: per-frame "
           "feature deltas -> cut boundaries -> scene lengths, computed "
           "entirely as array expressions over the digest-stub frames — "
           "no shuffle, no window)",
    oracle=f"""
    WITH media AS (
      SELECT md5(text) AS media_id, sha256(text) AS dig
      FROM documents WHERE doc_id BETWEEN 10 AND 99),
    g AS (
      SELECT media_id,
             list_transform(range(0, {_SCENE_FRAMES}), t ->
               CAST(('0x' || substr(dig, 2 * t + 1, 2)) AS INTEGER)) AS f
      FROM media),
    seg AS (
      SELECT media_id,
             list_concat(list_concat([CAST(0 AS BIGINT)],
               list_filter(range(1, {_SCENE_FRAMES}),
                           t -> abs(f[t + 1] - f[t]) >= {_SCENE_CUT})),
               [CAST({_SCENE_FRAMES} AS BIGINT)]) AS edges
      FROM g)
    SELECT media_id,
           CAST(len(edges) - 1 AS INTEGER) AS n_scenes,
           CAST(list_max(list_transform(range(1, len(edges)),
                i -> edges[i + 1] - edges[i])) AS INTEGER)
             AS longest_scene_frames
    FROM seg ORDER BY media_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Scene-cut detection over per-frame features: a cut opens wherever
    consecutive frame intensities differ by ≥ threshold; scene lengths are
    the gaps between cut boundaries. The frame features are the multimodal
    family's deterministic digest stub (a real frame-histogram or
    embedding-delta detector swaps in at the feature expression only).

    Scale shape: the entire segmentation is per-row array algebra
    (transform → filter → boundary diffs) inside the scan projection —
    zero shuffles, zero windows; whole-stage codegen end to end. Contrast
    with the lag-window formulation, which would shuffle every frame row
    on media_id: frames stay packed in their media row instead."""
    docs = tbl(spark, sf_dir, "documents")
    media = (docs.filter((F.col("doc_id") >= 10)
                         & (F.col("doc_id") <= 99))
             .select(F.md5(F.col("text")).alias("media_id"),
                     F.sha2(F.col("text"), 256).alias("dig")))
    n, cut = _SCENE_FRAMES, _SCENE_CUT
    f = (f"transform(sequence(0, {n - 1}), t -> "
         f"cast(conv(substr(dig, 2 * t + 1, 2), 16, 10) as int))")
    edges = (f"concat(array(cast(0 as bigint)), "
             f"filter(sequence(1, {n - 1}), t -> "
             f"abs(_f[t] - _f[t - 1]) >= {cut}), "
             f"array(cast({n} as bigint)))")
    return (media
            .withColumn("_f", F.expr(f))
            .withColumn("_edges", F.expr(edges))
            .select(
                "media_id",
                (F.size("_edges") - 1).cast("int").alias("n_scenes"),
                F.expr("cast(array_max(transform(sequence(1, "
                       "size(_edges) - 1), i -> _edges[i] - _edges[i - 1]))"
                       " as int)").alias("longest_scene_frames"))
            .orderBy("media_id"))


# ---------------------------------------------------------------------------
# 18. Holt linear smoothing per user (level + trend forecast fold)

_HOLT_ALPHA = 0.3
_HOLT_GAMMA = 0.1


@query(
    "events_holt_linear_by_user",
    survey="E/I-extension(loop-carried level+trend state: Holt double "
           "exponential smoothing per entity via grouped-map fold, "
           "hash-checked against a recursive-CTE oracle evaluating the "
           "identical float sequence)",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 300),
    state AS (
      SELECT user_id, rn, value AS l, CAST(0 AS DOUBLE) AS b
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn,
             {_HOLT_ALPHA} * o.value + 0.7 * (s.l + s.b) AS l,
             {_HOLT_GAMMA} * (({_HOLT_ALPHA} * o.value + 0.7 * (s.l + s.b))
                              - s.l) + 0.9 * s.b AS b
      FROM state s JOIN ordered o
        ON o.user_id = s.user_id AND o.rn = s.rn + 1),
    final AS (
      SELECT user_id, rn, l, b,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY rn DESC) AS rr
      FROM state)
    SELECT user_id, CAST(rn AS BIGINT) AS n_events,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(l + b, 6) AS forecast_1
    FROM final WHERE rr = 1 ORDER BY user_id
    """,
)
def events_holt_linear_by_user(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Holt's linear method (Holt 1957 — level + trend double exponential
    smoothing) folded per user, emitting the final state and the
    one-step-ahead forecast level+trend — the simplest real forecasting
    primitive a metrics warehouse maintains per entity.

    Same custom-stateful-operator contract as events_ewma_by_user: the
    recursion no window expresses runs as a grouped-map applyInPandas fold
    (one shuffle, O(1) state per entity), and the DuckDB oracle unrolls
    the identical float sequence as a recursive CTE — rounded only at the
    end, so the states hash-match bit-for-bit."""
    from server2_vector_search_server_spark.operators.temporal import (
        holt_by_key,
    )

    events = tbl(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    out = holt_by_key(events, alpha=_HOLT_ALPHA, gamma=_HOLT_GAMMA)
    return (out.select(
        "user_id", "n_events",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast_1"))
        .orderBy("user_id"))


# ---------------------------------------------------------------------------
# 19. Dedup observability: duplicate rates per source (mirror-site scenario)

@query(
    "documents_dup_rate_by_source",
    survey="curation extension(dedup observability: per-source exact-dup "
           "rates — within-source distinct-digest counts and cross-source "
           "mirror detection, the report a curation pipeline publishes "
           "before dropping anything)",
    oracle="""
    WITH corpus AS (
      SELECT source, md5(text) AS digest FROM documents
      UNION ALL
      SELECT 'mirror' AS source, md5(text) AS digest
      FROM documents WHERE doc_id < 100),
    spread AS (
      SELECT digest, COUNT(DISTINCT source) AS n_sources
      FROM corpus GROUP BY digest)
    SELECT c.source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT c.digest) AS n_unique,
           COUNT(*) FILTER (s.n_sources >= 2) AS n_cross_source
    FROM corpus c JOIN spread s ON s.digest = c.digest
    GROUP BY c.source ORDER BY c.source
    """,
)
def documents_dup_rate_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Duplicate-rate observability per source over a mirror-site corpus
    (the first 100 docs replayed under a 'mirror' source): per source, raw
    doc count, within-source distinct digests, and how many docs are
    cross-source duplicates — the report that justifies a dedup pass and
    attributes it to offending domains before any row is dropped.

    Scale shape: one digest-grain aggregate (count distinct sources per
    digest — partial-aggregable), one broadcast-scale join back, one
    source-grain conditional aggregate. Content never moves — only
    128-bit digests shuffle."""
    docs = tbl(spark, sf_dir, "documents")
    corpus = (docs.select("source", F.md5("text").alias("digest"))
              .unionByName(
                  docs.filter(F.col("doc_id") < 100)
                  .select(F.lit("mirror").alias("source"),
                          F.md5("text").alias("digest"))))
    spread = (corpus.groupBy("digest")
              .agg(F.count_distinct("source").alias("n_sources")))
    return (corpus.join(spread, "digest")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("digest").alias("n_unique"),
                 F.count(F.when(F.col("n_sources") >= 2, 1))
                 .alias("n_cross_source"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# 20. MinHash banding PR curve (threshold sweep of the fixed-band index)

_PR_THRESHOLDS = (0.35, 0.5, 0.65, 0.8)


@query(
    "dedup_minhash_pr_curve",
    survey="north-star dedup (LSH tuning curve: recall/precision of the "
           "FIXED banded index against exact-Jaccard truth at a sweep of "
           "thresholds — the b×r S-curve read off empirically, one "
           "hash-checked row per threshold)",
    oracle=None,  # installed below from the dedup fragments
)
def dedup_minhash_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning view behind dedup_minhash_quality_eval's single point:
    hold the banded index fixed (8 bands × 16 rows) and sweep the truth
    threshold — banding recall rises along the S-curve as the threshold
    moves past the bands' ~50% collision point, while candidate precision
    against looser truth falls. This is exactly how production LSH picks
    b×r: sweep on an affordable slice, deploy the banding that clears the
    recall target at the contract threshold.

    Scale honesty (same as the single-point eval): TRUTH is the quadratic
    pair join, affordable only at eval-slice size; the candidate side is
    the banded equi-join that scales. Both pair sets materialize ONCE
    (eager localCheckpoint) and the sweep is conditional aggregation over
    the flagged pairs — thresholds add zero extra joins."""
    from server2_vector_search_server_spark.operators import dedup
    from server2_vector_search_server_spark.plans.dedup_queries import (
        _docs_with_dups,
    )

    docs = _docs_with_dups(spark, sf_dir)
    truth = (dedup.ngram_jaccard_pairs(docs, threshold=0.0)
             .localCheckpoint(eager=True))
    cand = (dedup.minhash_candidate_pairs(dedup.add_minhash(docs))
            .withColumn("_in_cand", F.lit(True))
            .localCheckpoint(eager=True))
    n_cand = cand.count()
    flagged = (truth.join(cand, ["id_a", "id_b"], "left")
               .select("jaccard",
                       F.coalesce("_in_cand", F.lit(False))
                       .alias("in_cand")))
    th = spark.createDataFrame([(t,) for t in _PR_THRESHOLDS],
                               "threshold double")
    hit = (F.col("jaccard") >= F.col("threshold")) & F.col("in_cand")
    return (flagged.crossJoin(F.broadcast(th))
            .groupBy("threshold")
            .agg(F.count(F.when(F.col("jaccard") >= F.col("threshold"), 1))
                 .alias("n_truth"),
                 F.count(F.when(hit, 1)).alias("n_hits"))
            .select("threshold", "n_truth", "n_hits",
                    F.lit(n_cand).cast("long").alias("n_candidates"),
                    F.round(F.col("n_hits").cast("double")
                            / F.col("n_truth"), 6).alias("recall"),
                    F.round(F.col("n_hits").cast("double")
                            / F.lit(float(n_cand)), 6).alias("precision"))
            .orderBy("threshold"))


def _install_pr_curve_oracle() -> None:
    from server2_vector_search_server_spark.functions.text import (
        sql_token_hash,
        sql_word_shingles,
    )
    from server2_vector_search_server_spark.plans import dedup_queries as dq
    from server2_vector_search_server_spark.plans.registry import (
        REGISTRY,
        RegisteredQuery,
    )

    ths = ", ".join(f"({t})" for t in _PR_THRESHOLDS)
    sql = f"""
    WITH docs2 AS ({dq._SQL_DOCS}),
    sh AS (SELECT doc_id, {sql_word_shingles('text', 3)} AS sh FROM docs2),
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             {dq._SQL_JACCARD_EXPR} AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
    hs AS (
      SELECT doc_id,
             list_transform({sql_word_shingles('text', 3)},
                            s -> {sql_token_hash('s')}) AS hashes
      FROM docs2),
    sigs AS (SELECT doc_id, {dq._sql_minhash_sig('hashes')} AS sig FROM hs),
    bands AS ({dq._sql_band_selects('sigs')}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band_index, band_key)
      WHERE a.doc_id < b.doc_id),
    flagged AS (
      SELECT jac.j, (c.id_a IS NOT NULL) AS in_cand
      FROM jac LEFT JOIN cand c
        ON c.id_a = jac.id_a AND c.id_b = jac.id_b),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
    th AS (SELECT CAST(t AS DOUBLE) AS threshold
           FROM (VALUES {ths}) v(t))
    SELECT th.threshold,
           CAST(COUNT(*) FILTER (j >= th.threshold) AS BIGINT) AS n_truth,
           CAST(COUNT(*) FILTER (j >= th.threshold AND in_cand) AS BIGINT)
             AS n_hits,
           nc.n_candidates,
           ROUND(CAST(COUNT(*) FILTER (j >= th.threshold AND in_cand)
                      AS DOUBLE)
                 / COUNT(*) FILTER (j >= th.threshold), 6) AS recall,
           ROUND(CAST(COUNT(*) FILTER (j >= th.threshold AND in_cand)
                      AS DOUBLE)
                 / nc.n_candidates, 6) AS precision
    FROM flagged CROSS JOIN th CROSS JOIN nc
    GROUP BY th.threshold, nc.n_candidates
    ORDER BY th.threshold
    """
    rq = REGISTRY["dedup_minhash_pr_curve"]
    REGISTRY["dedup_minhash_pr_curve"] = RegisteredQuery(
        rq.name, rq.fn, sql, rq.survey_ref)


_install_pr_curve_oracle()


# ---------------------------------------------------------------------------
# 21. Salted skew JOIN (replicate-the-small-side; exact equality contract)

_SKEW_SALTS = 16


@query(
    "events_salted_skew_join",
    survey="scale-extension(skew-mitigated JOIN: hot fact key salted into "
           "16 sub-keys, dimension replicated across the salt domain — the "
           "join twin of events_salted_hot_key_agg, hash-equal to the "
           "plain join)",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN user_id >= 500 THEN 0 ELSE user_id END AS hot_key,
             value
      FROM events),
    dim AS (
      SELECT DISTINCT CASE WHEN user_id >= 500 THEN 0 ELSE user_id END
               AS hot_key,
             CASE WHEN (CASE WHEN user_id >= 500 THEN 0 ELSE user_id END)
                  % 2 = 0 THEN 'even' ELSE 'odd' END AS segment
      FROM events)
    SELECT d.segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(f.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM fact f JOIN dim d ON f.hot_key = d.hot_key
    GROUP BY d.segment ORDER BY d.segment
    """,
)
def events_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated JOIN as a registered contract: half the fact table
    collapses onto one hot key, which in a plain shuffle join lands on ONE
    reducer. The salted rewrite appends a deterministic salt to the fact
    side and replicates the (small) dimension across the full salt domain,
    so the hot key's rows spread over 16 reducers — and the result must
    hash-equal the plain join, because salting only re-keys the exchange,
    never the join predicate. This is the hand-rolled twin of AQE's
    skew-join splitting, registered so the equality is hash-proven (the
    join sibling of events_salted_hot_key_agg).

    The dimension replication is an in-array fan-out (explode of the salt
    sequence) — dim × 16 rows, still broadcast-scale; at cluster scale
    with a non-broadcastable dim this is exactly the replicate-fraction
    strategy of skewed-join papers (e.g. Beame et al. shares)."""
    ev = tbl(spark, sf_dir, "events")
    hot_key = F.when(F.col("user_id") >= 500, 0).otherwise(
        F.col("user_id"))
    fact = ev.select(hot_key.alias("hot_key"), "value")
    # dim from a FRESH scan — deriving it from `fact` would share lineage
    # with the join's other side (ROUND_NOTES r3 same-lineage gotcha)
    dim = (tbl(spark, sf_dir, "events")
           .select(hot_key.alias("hot_key")).distinct()
           .withColumn("segment",
                       F.when(F.col("hot_key") % 2 == 0, "even")
                       .otherwise("odd")))
    # fact side: deterministic salt; dim side: replicate across salts
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.hash(F.col("value").cast("string")),
                        F.lit(_SKEW_SALTS)))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SKEW_SALTS - 1))))
    # pin the shuffle-hash join: salting exists for the regime where the
    # dimension does NOT broadcast (at local fixture scale AQE would
    # broadcast the dim and quietly erase the thing being demonstrated)
    joined = salted_fact.join(salted_dim.hint("shuffle_hash"),
                              ["hot_key", "_salt"])
    return (joined.groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents"))
            .orderBy("segment"))


# ---------------------------------------------------------------------------
# 22. Faceted search: one scan -> facet counts via grouping sets

@query(
    "search_faceted_counts",
    survey="retrieval extension(faceted navigation: per-facet value counts "
           "for a filtered result set in ONE grouping-sets scan — the "
           "sidebar every search UI renders next to the hits)",
    oracle="""
    WITH hits AS (
      SELECT lang, source,
             CASE WHEN n_chars < 200 THEN 'short'
                  WHEN n_chars < 350 THEN 'medium' ELSE 'long' END
               AS length_bucket
      FROM documents WHERE n_chars >= 50)
    SELECT facet, facet_value, n FROM (
      SELECT 'lang' AS facet, lang AS facet_value, COUNT(*) AS n
      FROM hits GROUP BY lang
      UNION ALL
      SELECT 'source', source, COUNT(*) FROM hits GROUP BY source
      UNION ALL
      SELECT 'length', length_bucket, COUNT(*) FROM hits
      GROUP BY length_bucket)
    ORDER BY facet, facet_value
    """,
)
def search_faceted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted navigation counts: for the filtered result set, the count
    of hits per value of each facet dimension (language, source, length
    bucket), computed in a SINGLE scan via GROUPING SETS — Spark expands
    one pass over the hits into all three groupings (the Expand operator),
    instead of the three separate scans the UNION-ALL formulation (the
    oracle's, for clarity) would run.

    Scale shape: one scan + one Expand(×3) + one partial-aggregable
    groupBy; facet cardinality bounds the exchange. The filter reaches
    the parquet scan (n_chars is a column-level predicate)."""
    docs = tbl(spark, sf_dir, "documents").filter(F.col("n_chars") >= 50)
    hits = docs.select(
        "lang", "source",
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 350, "medium")
        .otherwise("long").alias("length_bucket"))
    gs = (hits.groupingSets(
        [["lang"], ["source"], ["length_bucket"]],
        "lang", "source", "length_bucket")
        .agg(F.count(F.lit(1)).alias("n")))
    facet = (F.when(F.col("lang").isNotNull(), "lang")
             .when(F.col("source").isNotNull(), "source")
             .otherwise("length"))
    value = F.coalesce("lang", "source", "length_bucket")
    return (gs.select(facet.alias("facet"), value.alias("facet_value"),
                      "n")
            .orderBy("facet", "facet_value"))


# ---------------------------------------------------------------------------
# 23. Partition-spec evolution (daily -> hourly layout, merged reads)

@query(
    "store_partition_spec_evolution",
    survey="store extension(partition-spec evolution: history written "
           "under a date-grain layout, new data under date+hour, one "
           "logical table reads both layouts — the lakehouse migration "
           "that must not rewrite history)",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY day ORDER BY day LIMIT 14
    """,
)
def store_partition_spec_evolution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Partition-spec evolution without history rewrite: the first week of
    events is stored partitioned by DATE (the original spec); later data
    lands under the evolved DATE+HOUR spec in a separate root; the logical
    table is the union of both layouts, and a day-grain report over it
    must hash-match the plain table — proving reads are layout-agnostic.
    This is the Iceberg/Delta partition-evolution contract expressed with
    explicit roots: old files keep their spec forever, new files get the
    finer one, queries see one table.

    Scale shape: both branches prune partitions on the day predicate
    (date=... directories); the hour-grain branch additionally prunes to
    hour directories for intra-day queries. The union is a metadata
    concat — no shuffle until the final aggregate."""
    from server2_vector_search_server_spark.plans.registry import scratch_dir

    ev = (tbl(spark, sf_dir, "events")
          .withColumn("day", F.to_date("ts"))
          .withColumn("hour", F.hour("ts")))
    cutoff = "2024-01-08"
    root = scratch_dir("pspec_evolution_")
    (ev.filter(F.col("day") < F.lit(cutoff)).drop("hour")
     .write.mode("overwrite").partitionBy("day")
     .parquet(root + "/daily"))
    (ev.filter(F.col("day") >= F.lit(cutoff))
     .write.mode("overwrite").partitionBy("day", "hour")
     .parquet(root + "/hourly"))

    old = spark.read.parquet(root + "/daily")
    new = spark.read.parquet(root + "/hourly").drop("hour")
    table = old.unionByName(new)
    return (table.groupBy(F.date_format("day", "yyyy-MM-dd")
                          .alias("day"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("event_type").alias("n_types"))
            .orderBy("day").limit(14))


# ---------------------------------------------------------------------------
# 24. Funnel time-to-convert (stage-delta distributions)

@query(
    "events_funnel_time_to_convert",
    survey="event-analytics extension(funnel latency: per-user "
           "view->click->purchase stage deltas, median and p90 seconds "
           "per transition — the 'how long does conversion take' view on "
           "top of the conversion-rate funnel)",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
    deltas AS (
      SELECT 'view_to_click' AS transition,
             date_diff('second', v.t1, c.t2) AS secs
      FROM v JOIN c ON v.user_id = c.user_id
      UNION ALL
      SELECT 'click_to_purchase',
             date_diff('second', c.t2, p.t3)
      FROM c JOIN p ON c.user_id = p.user_id)
    SELECT transition,
           COUNT(*) AS n_users,
           CAST(median(secs) AS DOUBLE) AS median_secs,
           CAST(quantile_cont(secs, 0.9) AS DOUBLE) AS p90_secs
    FROM deltas GROUP BY transition ORDER BY transition
    """,
)
def events_funnel_time_to_convert(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Funnel latency on top of events_funnel_conversion's stage times:
    per converting user, the seconds between first view → first subsequent
    click → first subsequent purchase, summarized as median and p90 per
    transition — the metric that distinguishes a slow funnel from a leaky
    one.

    Scale shape: identical to the rate funnel (type-pushed scans reduced
    to one MIN(ts) per user, user-sized stage joins); the percentile runs
    over ≤ one delta per converting user. Durations are integer floor-
    second diffs (engine-portable); exact interpolated percentiles via
    percentile() on integers match quantile_cont."""
    ev = tbl(spark, sf_dir, "events")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id").filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c.select("user_id", "t2"), "user_id")
         .filter(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    d1 = (v.join(c, "user_id")
          .select(F.lit("view_to_click").alias("transition"),
                  (F.unix_timestamp("t2") - F.unix_timestamp("t1"))
                  .alias("secs")))
    d2 = (c.join(p, "user_id")
          .select(F.lit("click_to_purchase").alias("transition"),
                  (F.unix_timestamp("t3") - F.unix_timestamp("t2"))
                  .alias("secs")))
    return (d1.unionByName(d2)
            .groupBy("transition")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.percentile("secs", F.lit(0.5)).alias("median_secs"),
                 F.percentile("secs", F.lit(0.9)).alias("p90_secs"))
            .orderBy("transition"))


# ---------------------------------------------------------------------------
# 25. Mahalanobis-style OOD scoring per label (diagonal covariance)

_OOD_EPS = "0.000000001"   # 1e-9 as a literal both engines parse identically
_OOD_TOP = 20


@query(
    "embedding_ood_mahalanobis",
    survey="training extension(out-of-distribution scoring: per-label "
           "diagonal-covariance Mahalanobis distance from exact integer "
           "moment sums — the embedding-space data-quality screen that "
           "flags mislabeled / outlier vectors for curation)",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(d AS INTEGER) AS d,
             embedding[CAST(d AS INTEGER) + 1] AS x
      FROM embeddings, UNNEST(range(0, len(embedding))) AS u(d)),
    m AS (
      SELECT label, d,
             COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
               AS s1,
             SUM(CAST(ROUND(CAST(x AS DOUBLE) * x * 1000000000000)
                      AS BIGINT)) AS s2
      FROM e GROUP BY label, d),
    stats AS (
      SELECT label, d,
             (s1 / 1000000000.0) / n AS mu,
             (s2 / 1000000000000.0) / n
               - ((s1 / 1000000000.0) / n) * ((s1 / 1000000000.0) / n)
               AS var
      FROM m),
    terms AS (
      SELECT e.vec_id,
             CAST(ROUND(ROUND((CAST(e.x AS DOUBLE) - s.mu)
                              * (CAST(e.x AS DOUBLE) - s.mu)
                              / (s.var + {_OOD_EPS}), 6) * 1000000)
                  AS BIGINT) AS t_micro
      FROM e JOIN stats s ON s.label = e.label AND s.d = e.d)
    SELECT vec_id, ROUND(SUM(t_micro) / 1000000.0, 6) AS ood_score
    FROM terms GROUP BY vec_id
    ORDER BY SUM(t_micro) DESC, vec_id LIMIT {_OOD_TOP}
    """,
)
def embedding_ood_mahalanobis(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Out-of-distribution screening (Lee et al. 2018's Mahalanobis
    detector, diagonal-covariance form): fit per-label mean/variance per
    dimension from EXACT integer moment sums (s1, s2 in micro-units, so
    μ and σ² are identical closed forms on any engine), then score each
    vector by Σ_d (x_d − μ)²/(σ²_d + ε) against ITS OWN label — the
    top-scoring vectors are the mislabeled/outlier candidates a curation
    pass reviews first.

    Scale shape: one posexplode pass → (label, dim)-grain moment
    aggregation (bounded by labels × dims, partial-aggregable), a
    broadcast-scale stats join back, and a per-vector integer fold. The
    moment-sum trick is the same exactness discipline as the registry's
    exact-sum rule — variance from exact s1/s2 beats Welford for parity
    because it is order-free."""
    emb = tbl(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label",
                   F.posexplode("embedding").alias("d", "x"))
    m = (e.groupBy("label", "d")
         .agg(F.count(F.lit(1)).alias("n"),
              # cast BEFORE scaling: float32 * int coerces to float32 in
              # Spark but to double in DuckDB — tens of micro-units apart
              F.sum(F.round(F.col("x").cast("double") * 1_000_000_000)
                    .cast("long")).alias("s1"),
              F.sum(F.round(F.col("x").cast("double") * F.col("x")
                            * 1_000_000_000_000).cast("long"))
              .alias("s2")))
    mu = (F.col("s1") / 1_000_000_000.0) / F.col("n")
    var = ((F.col("s2") / 1_000_000_000_000.0) / F.col("n")) - mu * mu
    stats = m.select(F.col("label").alias("s_label"),
                     F.col("d").alias("s_d"),
                     mu.alias("mu"), var.alias("var"))
    dx = F.col("x").cast("double") - F.col("mu")
    t_micro = (F.round(F.round(dx * dx / (F.col("var")
                                          + float(_OOD_EPS)), 6)
                       * 1_000_000).cast("long"))
    terms = (e.join(F.broadcast(stats),
                    (e.label == stats.s_label) & (e.d == stats.s_d))
             .select("vec_id", t_micro.alias("t_micro")))
    agg = terms.groupBy("vec_id").agg(F.sum("t_micro").alias("_s"))
    return (agg.orderBy(F.col("_s").desc(), "vec_id").limit(_OOD_TOP)
            .select("vec_id",
                    F.round(F.col("_s") / 1_000_000.0, 6)
                    .alias("ood_score")))


# ---------------------------------------------------------------------------
# 26. Customer LTV by acquisition cohort

@query(
    "customer_ltv_cohorts",
    survey="OLAP extension(lifetime-value triangle: customers grouped by "
           "first-order year, revenue tracked by years-since-acquisition "
           "— the cohort LTV report every subscription/commerce warehouse "
           "maintains)",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(year(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey),
    facts AS (
      SELECT f.cohort,
             year(o.o_orderdate) - f.cohort AS k,
             o.o_custkey, o.o_totalprice
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey)
    SELECT cohort, CAST(k AS INTEGER) AS years_since_first,
           COUNT(DISTINCT o_custkey) AS n_active,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM facts GROUP BY cohort, k ORDER BY cohort, k
    """,
)
def customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LTV triangle: customers cohorted by acquisition year (their
    first order), revenue and active-customer counts tracked by offset
    years — reading down a column compares cohort quality, reading across
    a row shows retention decay.

    Scale shape: the firsts aggregate is one partial-aggregable groupBy
    (customer-grain output); joined back broadcast-or-bucketed; the
    triangle itself is bounded by years² cells. Same pattern as
    events_cohort_retention at the relational grain."""
    orders = tbl(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice")
    firsts = (orders.groupBy("o_custkey")
              .agg(F.min(F.year("o_orderdate")).alias("cohort"))
              .select(F.col("o_custkey").alias("f_custkey"), "cohort"))
    facts = (orders.join(F.broadcast(firsts),
                         orders.o_custkey == firsts.f_custkey)
             .select("cohort",
                     (F.year("o_orderdate") - F.col("cohort"))
                     .cast("int").alias("years_since_first"),
                     "o_custkey", "o_totalprice"))
    return (facts.groupBy("cohort", "years_since_first")
            .agg(F.count_distinct("o_custkey").alias("n_active"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("revenue_cents"))
            .orderBy("cohort", "years_since_first"))


# ---------------------------------------------------------------------------
# 27. Snapshot diff (added / removed / changed between two table versions)

@query(
    "store_snapshot_diff",
    survey="store extension(snapshot diff: added/removed/changed rows "
           "between two table versions via digest full-outer join — the "
           "audit report behind every lakehouse 'what changed' question)",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS dig FROM documents WHERE doc_id < 200),
    v2 AS (
      SELECT doc_id, md5(CASE WHEN doc_id < 15 THEN upper(text)
                              ELSE text END) AS dig
      FROM documents
      WHERE doc_id >= 10 AND doc_id < 210),
    d AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.dig <> v2.dig THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
    SELECT change_type, COUNT(*) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM d GROUP BY change_type ORDER BY change_type
    """,
)
def store_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff between two committed snapshots: v2 drops doc 0-9,
    adds 200-209, and rewrites 10-14 (uppercased) — the diff classifies
    every key as added / removed / changed / unchanged by a digest
    full-outer join, the audit view a lakehouse serves for 'what did that
    commit touch'. Both versions are materialized parquet (immutable
    snapshot files, as the SnapshotChunkStore commits them).

    Scale shape: one full-outer join keyed on the row id, comparing
    128-bit digests — content never moves; the summary is a four-row
    aggregate. At 100 TB the join prunes to the partitions either
    manifest lists as changed."""
    from server2_vector_search_server_spark.plans.registry import scratch_dir

    docs = tbl(spark, sf_dir, "documents")
    root = scratch_dir("snap_diff_")
    (docs.filter(F.col("doc_id") < 200)
     .select("doc_id", F.md5("text").alias("dig"))
     .write.mode("overwrite").parquet(root + "/v1"))
    (docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 210))
     .select("doc_id",
             F.md5(F.when(F.col("doc_id") < 15, F.upper("text"))
                   .otherwise(F.col("text"))).alias("dig"))
     .write.mode("overwrite").parquet(root + "/v2"))
    v1 = spark.read.parquet(root + "/v1").select(
        F.col("doc_id").alias("id1"), F.col("dig").alias("dig1"))
    v2 = spark.read.parquet(root + "/v2").select(
        F.col("doc_id").alias("id2"), F.col("dig").alias("dig2"))
    d = (v1.join(v2, v1.id1 == v2.id2, "full_outer")
         .select(F.coalesce("id1", "id2").alias("doc_id"),
                 F.when(F.col("id1").isNull(), "added")
                 .when(F.col("id2").isNull(), "removed")
                 .when(F.col("dig1") != F.col("dig2"), "changed")
                 .otherwise("unchanged").alias("change_type")))
    return (d.groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").cast("long").alias("min_doc_id"),
                 F.max("doc_id").cast("long").alias("max_doc_id"))
            .orderBy("change_type"))


# ---------------------------------------------------------------------------
# 28. Parameterized SQL (named-argument spark.sql against registered views)

@query(
    "sql_parameterized_query",
    survey="SQL-surface extension(parameterized queries: named :arg "
           "binding via spark.sql(..., args=...) — injection-safe "
           "templating at the engine API, same result as the literal "
           "form)",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_totalprice > 150000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL execution: the query text carries ``:cutoff`` /
    ``:min_value`` placeholders and values bind at execution — the
    injection-safe templating surface (Spark 3.4+ ``spark.sql(args=...)``)
    a query service exposes instead of string interpolation. Binding is a
    parse-time substitution, so the optimized plan (pushed filters,
    partial aggs) is identical to the literal query the oracle runs."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders_v
        WHERE o_orderdate >= :cutoff AND o_totalprice > :min_value
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"cutoff": "1996-01-01", "min_value": 150000.0})


# ---------------------------------------------------------------------------
# 29. Item-item collaborative filtering (cosine over co-purchase sets)

_CF_MAX_BASKET = 64
_CF_TOP_PAIRS = 50


@query(
    "recommend_item_item_cosine",
    survey="recommendation extension(item-item collaborative filtering: "
           "co-purchase cosine over customer baskets, the Amazon-style "
           "'customers who bought X also bought Y' neighborhood model — "
           "in-array pair generation, degree-capped like the link-pred "
           "fan-out)",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    pcount AS (SELECT part, COUNT(*) AS n FROM items GROUP BY part),
    baskets AS (
      SELECT cust, list_sort(list_distinct(list(part))) AS parts
      FROM items GROUP BY cust),
    pairs AS (
      SELECT parts[i + 1] AS p1, parts[j + 1] AS p2
      FROM baskets,
           UNNEST(range(0, len(parts) - 1)) AS ui(i),
           UNNEST(range(0, len(parts))) AS uj(j)
      WHERE j > i AND len(parts) BETWEEN 2 AND {_CF_MAX_BASKET}),
    cooc AS (
      SELECT p1, p2, COUNT(*) AS n_both FROM pairs GROUP BY p1, p2
      HAVING COUNT(*) >= 2)
    SELECT c.p1, c.p2, CAST(c.n_both AS BIGINT) AS n_both,
           ROUND(CAST(c.n_both AS DOUBLE)
                 / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)), 6)
             AS cosine
    FROM cooc c
    JOIN pcount a ON a.part = c.p1
    JOIN pcount b ON b.part = c.p2
    ORDER BY cosine DESC, p1, p2 LIMIT {_CF_TOP_PAIRS}
    """,
)
def recommend_item_item_cosine(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Item-item neighborhood recommendations (Sarwar et al. 2001 /
    Linden et al. 2003, public methods): similarity between catalog items
    as the cosine of their co-purchase incidence —
    n_both / √(n_p1 · n_p2) — over distinct (customer, part) baskets,
    support-thresholded, top-50 pairs.

    Scale shape: the same density-aware in-array fan-out as
    graph_adamic_adar_links (one groupBy into per-customer part sets,
    basket-size cap, packed pair keys would apply identically at larger
    corpora); item supports are a catalog-sized aggregate, so both
    normalization joins broadcast. This is the co-occurrence kernel
    behind every 'also bought' surface."""
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    items = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select(F.col("o_custkey").alias("cust"),
                     F.col("l_partkey").alias("part"))
             .distinct())
    pcount = items.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    baskets = (items.groupBy("cust")
               .agg(F.sort_array(F.collect_set("part")).alias("parts"))
               .filter((F.size("parts") >= 2)
                       & (F.size("parts") <= _CF_MAX_BASKET))
               .repartition(max(8, spark.sparkContext
                                .defaultParallelism // 4), "cust"))
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(parts) - 2), i -> "
        "transform(sequence(i + 1, size(parts) - 1), j -> "
        "named_struct('p1', parts[i], 'p2', parts[j]))))")
    cooc = (baskets.select(F.explode(pair_expr).alias("p"))
            .select(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
            .groupBy("p1", "p2").agg(F.count(F.lit(1)).alias("n_both"))
            .filter(F.col("n_both") >= 2))
    a = pcount.select(F.col("part").alias("_pa"), F.col("n").alias("_na"))
    b = pcount.select(F.col("part").alias("_pb"), F.col("n").alias("_nb"))
    cosine = F.round(
        F.col("n_both").cast("double")
        / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
        6)
    return (cooc
            .join(F.broadcast(a), F.col("p1") == F.col("_pa"))
            .join(F.broadcast(b), F.col("p2") == F.col("_pb"))
            .select("p1", "p2", F.col("n_both").cast("long").alias("n_both"),
                    cosine.alias("cosine"))
            .orderBy(F.col("cosine").desc(), "p1", "p2")
            .limit(_CF_TOP_PAIRS))


# ---------------------------------------------------------------------------
# 30. SymSpell spell correction (delete-variant equi-join, no distance scan)

_SPELL_MIN_LEN = 4
_SPELL_MIN_FREQ = 5
_SPELL_QUERIES = ("tabl", "quury", "vectr", "windw", "filtr")
_SPELL_TOP = 3
_SQL_SPELL_QUERIES = ", ".join(f"('{q}')" for q in _SPELL_QUERIES)


def _sql_deletes(expr: str) -> str:
    """All 1-deletes of a term plus the term itself (DuckDB)."""
    return (f"list_append(list_transform(range(1, length({expr}) + 1), "
            f"i -> substr({expr}, 1, CAST(i AS INTEGER) - 1) || "
            f"substr({expr}, CAST(i AS INTEGER) + 1)), {expr})")


@query(
    "search_spell_symspell",
    survey="retrieval extension(SymSpell spell correction: dictionary and "
           "query expand to 1-delete variants, candidates from the "
           "delete-key EQUI-JOIN, exact edit-distance verify, frequency "
           "ranking — no dictionary-wide distance scan)",
    oracle=f"""
    WITH vocab AS (
      SELECT t.term, COUNT(*) AS freq
      FROM documents, UNNEST(list_filter(
             string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''))
           AS t(term)
      WHERE length(t.term) >= {_SPELL_MIN_LEN}
      GROUP BY t.term HAVING COUNT(*) >= {_SPELL_MIN_FREQ}),
    dict_keys AS (
      SELECT term, freq, k.key
      FROM vocab, UNNEST({_sql_deletes('term')}) AS k(key)),
    queries AS (SELECT q FROM (VALUES {_SQL_SPELL_QUERIES}) v(q)),
    query_keys AS (
      SELECT q, k.key FROM queries, UNNEST({_sql_deletes('q')}) AS k(key)),
    cand AS (
      SELECT DISTINCT q.q, d.term, d.freq
      FROM query_keys q JOIN dict_keys d ON d.key = q.key
      WHERE levenshtein(q.q, d.term) <= 1)
    SELECT q AS query, term AS suggestion, CAST(freq AS BIGINT) AS freq,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT q, term, freq,
             row_number() OVER (PARTITION BY q
                                ORDER BY freq DESC, term) AS rank
      FROM cand)
    WHERE rank <= {_SPELL_TOP}
    ORDER BY query, rank
    """,
)
def search_spell_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell spell correction (Garbe's public algorithm): the
    dictionary's 1-delete variants are precomputed once, the query's
    1-delete variants are generated at lookup, and edit-distance-≤1
    candidates fall out of an EQUI-JOIN on shared delete keys — deletes
    alone cover insertions, deletions, AND substitutions at distance 1.
    A final exact levenshtein verifies (delete-key collisions can reach
    distance 2), and suggestions rank by corpus frequency.

    Scale shape: this is the spell-check that works at vocabulary scale —
    the dictionary-side expansion is ~(1 + len) keys per term built once
    (at 100 TB: materialized + bucketed on key), lookup is a hash join on
    the key column, and NOTHING scans the dictionary per query, unlike
    the naive min-levenshtein-over-vocab formulation."""
    from server2_vector_search_server_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens(F.lower(F.col("text"))))
                         .alias("term"))
             .filter(F.length("term") >= _SPELL_MIN_LEN)
             .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
             .filter(F.col("freq") >= _SPELL_MIN_FREQ))
    deletes = ("array_append(transform(sequence(1, length({c})), i -> "
               "concat(substring({c}, 1, i - 1), "
               "substring({c}, i + 1, length({c})))), {c})")
    dict_keys = (vocab.select(
        "term", "freq",
        F.explode(F.expr(deletes.format(c="term"))).alias("key")))
    queries = spark.createDataFrame([(q,) for q in _SPELL_QUERIES],
                                    "q string")
    query_keys = (queries.select(
        "q", F.explode(F.expr(deletes.format(c="q"))).alias("key")))
    cand = (dict_keys.join(F.broadcast(query_keys), "key")
            .filter(F.levenshtein("q", "term") <= 1)
            .select("q", "term", "freq").distinct())
    w = Window.partitionBy("q").orderBy(F.col("freq").desc(),
                                        F.col("term").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _SPELL_TOP)
            .select(F.col("q").alias("query"),
                    F.col("term").alias("suggestion"),
                    F.col("freq").cast("long").alias("freq"),
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("query", "rank"))


# ---------------------------------------------------------------------------
# 31. TextRank extractive summarization (per-doc sentence graph, unrolled)

_TR_DOCS = 40        # summarize doc_id < 40
_TR_WINDOW = 12      # pseudo-sentence = 12-token window (corpus has no
                     # punctuation; a real sentence splitter swaps in at
                     # the segmentation expression)
_TR_MIN_SHARED = 2   # edge iff >= 2 shared tokens
_TR_DAMPING = "0.85"
_TR_ROUNDS = 2
_TR_SCALE = 9
_TR_TOP = 2


def _textrank_oracle() -> str:
    from server2_vector_search_server_spark.plans.registry import (
        sql_exact_sum,
    )

    w = _TR_WINDOW
    rounds = []
    for i in range(1, _TR_ROUNDS + 1):
        contrib = sql_exact_sum(
            "(p.pr * (e.w_micro / CAST(e.outw_micro AS DOUBLE)))",
            _TR_SCALE)
        rounds.append(f"""
    c{i} AS (
      SELECT e.doc_id, e.dst AS sid, {contrib} AS contrib
      FROM ed e JOIN pr{i - 1} p
        ON p.doc_id = e.doc_id AND p.sid = e.src
      GROUP BY e.doc_id, e.dst),
    pr{i} AS (
      SELECT s.doc_id, s.sid,
             ROUND(((1.0 - {_TR_DAMPING}) / nn.n)
                   + {_TR_DAMPING} * COALESCE(c{i}.contrib, 0.0),
                   {_TR_SCALE}) AS pr
      FROM sents s
      JOIN nn ON nn.doc_id = s.doc_id
      LEFT JOIN c{i} ON c{i}.doc_id = s.doc_id AND c{i}.sid = s.sid)""")
    rounds_sql = ",".join(rounds)
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
                                 '\\s+'), x -> x <> '') AS tk
      FROM documents WHERE doc_id < {_TR_DOCS} AND length(trim(text)) > 0),
    sents AS (
      SELECT doc_id, CAST(k AS INTEGER) AS sid,
             list_distinct(list_transform(
               range(k * {w}, least((k + 1) * {w}, len(tk))),
               i -> tk[CAST(i AS INTEGER) + 1])) AS s_toks
      FROM toks,
           UNNEST(range(CAST(ceil(len(tk) / {w}.0) AS BIGINT))) AS u(k)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM sents GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id, a.sid AS sa, b.sid AS sb,
             CAST(ROUND(ROUND(
               len(list_intersect(a.s_toks, b.s_toks))
               / (ln(len(a.s_toks) + 1) + ln(len(b.s_toks) + 1)),
               {_TR_SCALE}) * 1000000000) AS BIGINT) AS w_micro
      FROM sents a JOIN sents b
        ON a.doc_id = b.doc_id AND a.sid < b.sid
      WHERE len(list_intersect(a.s_toks, b.s_toks)) >= {_TR_MIN_SHARED}),
    ed0 AS (
      SELECT doc_id, sa AS src, sb AS dst, w_micro FROM pairs
      UNION ALL
      SELECT doc_id, sb AS src, sa AS dst, w_micro FROM pairs),
    outw AS (
      SELECT doc_id, src, SUM(w_micro) AS outw_micro
      FROM ed0 GROUP BY doc_id, src),
    ed AS (
      SELECT e.doc_id, e.src, e.dst, e.w_micro, o.outw_micro
      FROM ed0 e JOIN outw o ON o.doc_id = e.doc_id AND o.src = e.src),
    pr0 AS (
      SELECT s.doc_id, s.sid, ROUND(1.0 / nn.n, {_TR_SCALE}) AS pr
      FROM sents s JOIN nn ON nn.doc_id = s.doc_id),
    {rounds_sql}
    SELECT doc_id, CAST(sid AS INTEGER) AS sentence_idx,
           ROUND(pr, 6) AS textrank,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT doc_id, sid, pr,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY pr DESC, sid) AS rnk
      FROM pr{_TR_ROUNDS})
    WHERE rnk <= {_TR_TOP}
    ORDER BY doc_id, rank
    """


@query(
    "text_textrank_summary",
    survey="text-analysis extension(extractive summarization: TextRank — "
           "per-document sentence-similarity graph, damped power "
           "iteration unrolled and hash-checked per round, top-2 "
           "sentences per doc; the graph_pagerank discipline applied at "
           "document granularity)",
    oracle=_textrank_oracle(),
)
def text_textrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau 2004, public
    method): each document's pseudo-sentences (12-token windows — the
    corpus has no punctuation; a real splitter swaps in at the
    segmentation expression) form a similarity graph weighted by
    shared-token counts over log-length normalization; two damped
    power-iteration rounds rank sentences; the top-2 per document are the
    extractive summary.

    Scale shape: EVERYTHING is partitioned by doc_id — the sentence
    self-join, the per-round contribution aggregate, and the final top-k
    window all reuse one hash partitioning, and no state is global: a
    100 TB corpus summarizes embarrassingly parallel per doc. Per-round
    ranks follow graph_pagerank's exact-parity discipline (micro-unit
    edge weights, rounded ranks, exact-sum folds), so the iteration is
    hash-checked, not approximated."""
    docs = (tbl(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < _TR_DOCS)
                    & (F.length(F.trim("text")) > 0)))
    w, scale = _TR_WINDOW, _TR_SCALE
    d = float(_TR_DAMPING)
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(trim(lower(text)), '\\\\s+'), "
               "x -> x != '')").alias("tk"))
    sents = (toks.select(
        "doc_id",
        F.explode(F.sequence(
            F.lit(0),
            F.ceil(F.size("tk") / float(w)).cast("int") - 1)).alias("sid"))
        .join(toks, "doc_id")
        .select("doc_id", "sid",
                F.expr(f"array_distinct(transform(sequence(sid * {w}, "
                       f"least((sid + 1) * {w}, size(tk)) - 1), "
                       f"i -> tk[i]))").alias("s_toks")))
    nn = sents.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sents.select(F.col("doc_id").alias("d_a"),
                     F.col("sid").alias("sa"),
                     F.col("s_toks").alias("t_a"))
    b = sents.select(F.col("doc_id").alias("d_b"),
                     F.col("sid").alias("sb"),
                     F.col("s_toks").alias("t_b"))
    shared = F.size(F.array_intersect("t_a", "t_b"))
    w_micro = F.round(
        F.round(shared
                / (F.log(F.size("t_a") + 1) + F.log(F.size("t_b") + 1)),
                scale) * 1_000_000_000).cast("long")
    pairs = (a.join(b, (F.col("d_a") == F.col("d_b"))
                    & (F.col("sa") < F.col("sb")))
             .filter(shared >= _TR_MIN_SHARED)
             .select(F.col("d_a").alias("doc_id"), "sa", "sb",
                     w_micro.alias("w_micro")))
    ed0 = (pairs.select("doc_id", F.col("sa").alias("src"),
                        F.col("sb").alias("dst"), "w_micro")
           .unionByName(pairs.select(
               "doc_id", F.col("sb").alias("src"),
               F.col("sa").alias("dst"), "w_micro")))
    outw = (ed0.groupBy("doc_id", "src")
            .agg(F.sum("w_micro").alias("outw_micro"))
            .select(F.col("doc_id").alias("o_doc"),
                    F.col("src").alias("o_src"), "outw_micro"))
    ed = (ed0.join(outw, (ed0.doc_id == F.col("o_doc"))
                   & (ed0.src == F.col("o_src")))
          .select("doc_id", "src", "dst", "w_micro", "outw_micro")
          .localCheckpoint(eager=True))
    pr = (sents.join(nn, "doc_id")
          .select("doc_id", "sid",
                  F.round(1.0 / F.col("n"), scale).alias("pr")))
    base = (sents.select("doc_id", "sid")
            .join(nn, "doc_id"))
    for _ in range(_TR_ROUNDS):
        prev = pr.select(F.col("doc_id").alias("p_doc"),
                         F.col("sid").alias("p_sid"),
                         F.col("pr").alias("p_pr"))
        contrib = (ed.join(prev, (ed.doc_id == F.col("p_doc"))
                           & (ed.src == F.col("p_sid")))
                   .groupBy("doc_id", "dst")
                   # exact-sum fold mirroring sql_exact_sum(expr, 9)
                   # EXACTLY: round once at the scaled level, no inner
                   # round (an asymmetric extra round is a latent 1-ulp
                   # parity seam)
                   .agg((F.sum(F.round(
                       F.col("p_pr")
                       * (F.col("w_micro")
                          / F.col("outw_micro").cast("double"))
                       * 1_000_000_000).cast("long"))
                       / 1_000_000_000.0).alias("contrib"))
                   .select(F.col("doc_id").alias("c_doc"),
                           F.col("dst").alias("c_sid"), "contrib"))
        pr = (base.join(contrib,
                        (base.doc_id == F.col("c_doc"))
                        & (base.sid == F.col("c_sid")), "left")
              .select("doc_id", "sid",
                      F.round((1.0 - d) / F.col("n")
                              + d * F.coalesce("contrib", F.lit(0.0)),
                              scale).alias("pr")))
    wnd = Window.partitionBy("doc_id").orderBy(
        F.col("pr").desc(), F.col("sid").asc())
    return (pr.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= _TR_TOP)
            .select("doc_id", F.col("sid").cast("int")
                    .alias("sentence_idx"),
                    F.round("pr", 6).alias("textrank"),
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("doc_id", "rank"))


# ---------------------------------------------------------------------------
# 32. Learning-to-rank feature assembly (one scan, all signals)

_LTR_QUERIES = {0: ("join", "query"), 1: ("vector", "merge"),
                2: ("table", "scan")}
_LTR_DOC_LO, _LTR_DOC_HI = 10, 210
_LTR_TOP = 20


def _ltr_oracle() -> str:
    from server2_vector_search_server_spark.plans.registry import sql_score

    qcases_terms = " ".join(
        f"WHEN q.qid = {qid} THEN len(list_filter(tk, "
        f"t -> t IN ({', '.join(repr(t) for t in terms)})))"
        for qid, terms in _LTR_QUERIES.items())
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id IN ({', '.join(str(k) for k in _LTR_QUERIES)})),
    d AS (
      SELECT doc_id, n_chars,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS tk,
             e.embedding AS dv
      FROM documents
      JOIN embeddings e ON e.vec_id = doc_id
      WHERE doc_id >= {_LTR_DOC_LO} AND doc_id < {_LTR_DOC_HI}),
    feats AS (
      SELECT q.qid, d.doc_id,
             {sql_score('d.dv', 'q.qv')} AS cosine_score,
             CAST(CASE {qcases_terms} END AS BIGINT) AS term_hits,
             CAST(d.n_chars AS BIGINT) AS n_chars,
             CAST(len(d.tk) AS BIGINT) AS n_tokens
      FROM d CROSS JOIN q)
    SELECT qid, doc_id, cosine_score, term_hits, n_chars, n_tokens,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine_score DESC, doc_id)
                  AS rnk
      FROM feats)
    WHERE rnk <= {_LTR_TOP}
    ORDER BY qid, rank
    """


@query(
    "search_ltr_feature_matrix",
    survey="retrieval extension(learning-to-rank feature assembly: "
           "per-(query, candidate) vector similarity + lexical hits + "
           "document statistics in ONE corpus scan — the feature matrix "
           "an LTR trainer consumes)",
    oracle=_ltr_oracle(),
)
def search_ltr_feature_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The feature-extraction stage of a learning-to-rank pipeline: for
    each query (a vector + its term set) and each candidate document, one
    row of ranking signals — embedding cosine (the reference's score
    contract), lexical term hits, document length in chars and tokens —
    truncated to the per-query top-k by first-stage score. An LTR trainer
    (LambdaMART etc.) consumes exactly this matrix; the engine's job is
    assembling it in ONE scan.

    Scale shape: the query set broadcasts (Q rows), the corpus+embedding
    join is 1:1 id-aligned (bucketable), every feature is a column
    expression computed in the same projection, and the per-query top-k
    is a rank-limited window — Q × corpus expansion never materializes
    beyond the window's partial top-k."""
    from server2_vector_search_server_spark.functions.text import tokens
    from server2_vector_search_server_spark.operators.knn import exact_score

    emb = tbl(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id").isin(*_LTR_QUERIES))
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    docs = (tbl(spark, sf_dir, "documents")
            .filter((F.col("doc_id") >= _LTR_DOC_LO)
                    & (F.col("doc_id") < _LTR_DOC_HI)))
    d = (docs.join(emb.select(F.col("vec_id").alias("e_id"),
                              F.col("embedding").alias("dv")),
                   docs.doc_id == F.col("e_id"))
         .select("doc_id", "n_chars",
                 tokens(F.lower(F.col("text"))).alias("tk"), "dv"))
    hits = F.coalesce(
        *[F.when(F.col("qid") == qid,
                 F.size(F.filter(F.col("tk"),
                                 lambda t: t.isin(*terms))))
          for qid, terms in _LTR_QUERIES.items()])
    feats = (d.crossJoin(F.broadcast(q))
             .select("qid", "doc_id",
                     exact_score("qv", "dv").alias("cosine_score"),
                     hits.cast("long").alias("term_hits"),
                     F.col("n_chars").cast("long").alias("n_chars"),
                     F.size("tk").cast("long").alias("n_tokens")))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_score").desc(), F.col("doc_id").asc())
    return (feats.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _LTR_TOP)
            .select("qid", "doc_id", "cosine_score", "term_hits",
                    "n_chars", "n_tokens",
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("qid", "rank"))


# ---------------------------------------------------------------------------
# 33. Burst detection (Kleinberg 2-state cost automaton, greedy labels)

_BURST_S = 2.0        # burst-state rate multiplier
_BURST_GAMMA = 1.0    # state-up transition cost factor (gamma * ln n)


@query(
    "events_burst_detection",
    survey="event-analytics extension(burst detection: Kleinberg's "
           "two-state arrival-rate automaton folded greedily per user — "
           "loop-carried 2-state cost recursion, hash-checked against a "
           "recursive-CTE oracle carrying both state costs)",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 300),
    spans AS (
      SELECT user_id, COUNT(*) AS n,
             date_diff('second', MIN(ts), MAX(ts)) AS t_span
      FROM ordered GROUP BY user_id HAVING COUNT(*) >= 2
                                       AND date_diff('second', MIN(ts),
                                                     MAX(ts)) > 0),
    params AS (
      SELECT user_id, n,
             CAST(n AS DOUBLE) / t_span AS lam0,
             {_BURST_S} * (CAST(n AS DOUBLE) / t_span) AS lam1,
             {_BURST_GAMMA} * ln(CAST(n AS DOUBLE)) AS trans
      FROM spans),
    gaps AS (
      SELECT o.user_id, o.rn,
             date_diff('second',
                       lag(o.ts) OVER (PARTITION BY o.user_id
                                       ORDER BY o.rn), o.ts) AS g
      FROM ordered o JOIN params p ON p.user_id = o.user_id),
    state AS (
      SELECT p.user_id, 1 AS rn,
             CAST(0 AS DOUBLE) AS c0, p.trans AS c1,
             0 AS lbl, CAST(0 AS BIGINT) AS n_burst_gaps,
             CAST(0 AS BIGINT) AS n_bursts
      FROM params p
      UNION ALL
      SELECT s.user_id, g.rn,
             LEAST(s.c0, s.c1) + (p.lam0 * g.g - ln(p.lam0)) AS c0,
             LEAST(s.c0 + p.trans, s.c1)
               + (p.lam1 * g.g - ln(p.lam1)) AS c1,
             CASE WHEN (LEAST(s.c0 + p.trans, s.c1)
                        + (p.lam1 * g.g - ln(p.lam1)))
                     < (LEAST(s.c0, s.c1) + (p.lam0 * g.g - ln(p.lam0)))
                  THEN 1 ELSE 0 END AS lbl,
             s.n_burst_gaps
               + CASE WHEN (LEAST(s.c0 + p.trans, s.c1)
                            + (p.lam1 * g.g - ln(p.lam1)))
                         < (LEAST(s.c0, s.c1)
                            + (p.lam0 * g.g - ln(p.lam0)))
                      THEN 1 ELSE 0 END AS n_burst_gaps,
             s.n_bursts
               + CASE WHEN s.lbl = 0
                       AND (LEAST(s.c0 + p.trans, s.c1)
                            + (p.lam1 * g.g - ln(p.lam1)))
                          < (LEAST(s.c0, s.c1)
                             + (p.lam0 * g.g - ln(p.lam0)))
                      THEN 1 ELSE 0 END AS n_bursts
      FROM state s
      JOIN gaps g ON g.user_id = s.user_id AND g.rn = s.rn + 1
      JOIN params p ON p.user_id = s.user_id),
    final AS (
      SELECT user_id, rn, c0, c1, n_burst_gaps, n_bursts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY rn DESC) AS rr
      FROM state)
    SELECT user_id, CAST(rn - 1 AS BIGINT) AS n_gaps,
           n_burst_gaps, n_bursts,
           ROUND(c0, 6) AS cost_base, ROUND(c1, 6) AS cost_burst
    FROM final WHERE rr = 1 ORDER BY user_id
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection à la Kleinberg 2002 (the public two-state
    arrival-rate automaton): per user, inter-arrival gaps are costed under
    a baseline rate λ₀ = n/T and a burst rate 2λ₀, a state-up transition
    charges γ·ln n, and the running minimal costs label each gap greedily
    (the forward-only reading of the automaton — no backtracking pass, so
    the fold stays single-direction and streamable). Outputs per user:
    burst-labeled gap count, burst-episode count, and both final costs.

    Same custom-stateful-operator contract as the EWMA/Holt family: a
    grouped-map applyInPandas fold (one shuffle, TWO loop-carried floats
    per entity), hash-checked against a recursive-CTE oracle carrying the
    identical state columns through the identical float ops."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    s_mult, gamma = _BURST_S, _BURST_GAMMA
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
        T.StructField("n_burst_gaps", T.LongType()),
        T.StructField("n_bursts", T.LongType()),
        T.StructField("c0", T.DoubleType()),
        T.StructField("c1", T.DoubleType()),
    ])

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        # floor to epoch seconds regardless of the Arrow datetime unit
        # (Spark 4 hands pandas datetime64[us]; int64-of-ns assumptions
        # would be 1000x off)
        secs = (pd.to_datetime(pdf["ts"]).values
                .astype("datetime64[s]").astype("int64").tolist())
        n = len(secs)
        t_span = secs[-1] - secs[0]
        if n < 2 or t_span <= 0:
            return pd.DataFrame(columns=[f.name for f in out_schema])
        lam0 = float(n) / t_span
        lam1 = s_mult * lam0
        trans = gamma * math.log(float(n))
        c0, c1, lbl = 0.0, trans, 0
        n_burst_gaps = n_bursts = 0
        for i in range(1, n):
            g = secs[i] - secs[i - 1]
            nc0 = min(c0, c1) + (lam0 * g - math.log(lam0))
            nc1 = min(c0 + trans, c1) + (lam1 * g - math.log(lam1))
            new_lbl = 1 if nc1 < nc0 else 0
            n_burst_gaps += new_lbl
            if lbl == 0 and new_lbl == 1:
                n_bursts += 1
            c0, c1, lbl = nc0, nc1, new_lbl
        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"].iloc[0])],
             "n_gaps": [n - 1], "n_burst_gaps": [n_burst_gaps],
             "n_bursts": [n_bursts], "c0": [c0], "c1": [c1]})

    ev = (tbl(spark, sf_dir, "events").filter(F.col("user_id") < 300)
          .select("user_id", "ts", "event_id"))
    out = ev.groupBy("user_id").applyInPandas(fold, out_schema)
    return (out.select("user_id", "n_gaps", "n_burst_gaps", "n_bursts",
                       F.round("c0", 6).alias("cost_base"),
                       F.round("c1", 6).alias("cost_burst"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# 34. Write-Audit-Publish (staged commit with quality gate)

@query(
    "store_write_audit_publish",
    survey="store extension(WAP — write-audit-publish: batches land in a "
           "staging root, an audit gate checks them, only passing batches "
           "publish atomically into the served table; failed data is "
           "NEVER visible to readers)",
    oracle="""
    WITH b1 AS (
      SELECT doc_id, md5(text) AS dig FROM documents
      WHERE doc_id < 150 AND length(text) >= 10),
    b2 AS (  -- the corrupt batch: nulled-out text fails the audit
      SELECT doc_id + 50000 AS doc_id, CAST(NULL AS VARCHAR) AS dig
      FROM documents WHERE doc_id < 80),
    b3 AS (
      SELECT doc_id + 100000 AS doc_id, md5(text) AS dig FROM documents
      WHERE doc_id >= 150 AND doc_id < 260 AND length(text) >= 10)
    SELECT * FROM (
      SELECT 'published_rows' AS check_name,
             (SELECT COUNT(*) FROM b1) + (SELECT COUNT(*) FROM b3) AS n,
             TRUE AS ok
      UNION ALL
      SELECT 'quarantined_batches', 1, TRUE
      UNION ALL
      SELECT 'no_nulls_visible', 0, TRUE
      UNION ALL
      SELECT 'batch2_rows_invisible', 0, TRUE
    ) ORDER BY check_name
    """,
)
def store_write_audit_publish(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The Write-Audit-Publish commit pattern (Netflix's Iceberg WAP /
    dbt's build-then-swap): every ingest batch lands in a STAGING root,
    an audit gate evaluates data-quality rules (null rate, row count,
    digest presence), and only passing batches move into the published
    root — a failing batch is quarantined without ever being visible to
    a reader of the served table. Three batches flow here; the middle one
    (null digests) must fail the audit.

    The checks are hash-pinned: published row count equals exactly the
    two good batches, one batch quarantined, zero nulls and zero
    batch-2 rows visible. Scale shape: the audit is one aggregate over
    the staged batch (observe-style counters would fold it into the
    write pass, cf. ingest_observed_metrics); publish is a file move —
    O(manifest), not O(data)."""
    from server2_vector_search_server_spark.plans.registry import scratch_dir

    docs = tbl(spark, sf_dir, "documents")
    batches = [
        (docs.filter((F.col("doc_id") < 150) & (F.length("text") >= 10))
         .select("doc_id", F.md5("text").alias("dig"))),
        (docs.filter(F.col("doc_id") < 80)
         .select((F.col("doc_id") + 50000).alias("doc_id"),
                 F.lit(None).cast("string").alias("dig"))),
        (docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 260)
                     & (F.length("text") >= 10))
         .select((F.col("doc_id") + 100000).alias("doc_id"),
                 F.md5("text").alias("dig"))),
    ]
    root = scratch_dir("wap_")
    import os
    import shutil

    published = root + "/published"
    os.makedirs(published, exist_ok=True)
    quarantined = 0
    for i, b in enumerate(batches):
        staging = f"{root}/staging_b{i}"
        b.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        audit = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("dig").isNull(), 1)).alias("n_null"),
            F.count_distinct("doc_id").alias("n_ids")).first()
        passes = (audit["n"] > 0 and audit["n_null"] == 0
                  and audit["n_ids"] == audit["n"])
        if passes:
            # publish = move files under the served root (O(manifest))
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.move(os.path.join(staging, f),
                                os.path.join(published, f"b{i}_{f}"))
        else:
            quarantined += 1

    served = spark.read.parquet(published)
    checks = served.agg(
        F.count(F.lit(1)).alias("published_rows"),
        F.count(F.when(F.col("dig").isNull(), 1)).alias("nulls_visible"),
        F.count(F.when((F.col("doc_id") >= 50000)
                       & (F.col("doc_id") < 100000), 1))
        .alias("b2_visible")).first()
    rows = [
        ("batch2_rows_invisible", int(checks["b2_visible"]),
         checks["b2_visible"] == 0),
        ("no_nulls_visible", int(checks["nulls_visible"]),
         checks["nulls_visible"] == 0),
        ("published_rows", int(checks["published_rows"]), True),
        ("quarantined_batches", quarantined, quarantined == 1),
    ]
    return spark.createDataFrame(rows, "check_name string, n long, ok boolean")


# ---------------------------------------------------------------------------
# 35. Eager aggregation: partial-agg pushed BELOW the join (rewrite contract)

@query(
    "lineitem_eager_aggregation_join",
    survey="scale-extension(eager aggregation / group-join rewrite: the "
           "fact table pre-aggregates to the join key BEFORE joining the "
           "dimension, shrinking the join input from line items to "
           "orders — hash-equal to the naive join-then-aggregate)",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def lineitem_eager_aggregation_join(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The eager-aggregation rewrite (Yan & Larson 1995, public method):
    revenue per market segment naively joins every LINE ITEM to orders
    and customers before aggregating; the rewrite pre-aggregates line
    items to their order key FIRST — sums are decomposable over the
    join's key grouping — so the join moves one row per ORDER (4x fewer
    here, often 100x in star schemas) and the dimension joins touch
    pre-shrunk data. The oracle runs the naive form; hash equality IS
    the rewrite's correctness proof.

    Scale shape: the pre-aggregation partial-aggregates map-side on the
    scan, the order-grain join broadcasts both dims, and the final
    segment rollup is vocabulary-sized. Catalyst does not perform this
    rewrite itself (no eager-aggregation rule as of Spark 4), which is
    exactly why an engine exposes it as a written plan."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.sum(rev_cents).alias("order_cents")))
    return (per_order
            .join(orders, per_order.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("order_cents").alias("revenue_cents"))
            .orderBy("c_mktsegment"))


# ---------------------------------------------------------------------------
# 36. IVF cell-split rebalance (index maintenance: split only hot cells)

_SPLIT_N_CENTS = 4
_SPLIT_MAX_CELL = 125


def _cell_split_oracle() -> str:
    from server2_vector_search_server_spark.plans.registry import sql_sq_l2

    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS c FROM embeddings
      WHERE vec_id < {_SPLIT_N_CENTS}),
    pairs AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {sql_sq_l2('c.c', 'e.embedding')} AS d
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      SELECT vec_id, embedding, cid FROM pairs
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cid) = 1),
    counts AS (SELECT cid, COUNT(*) AS n FROM assign GROUP BY cid),
    oversized AS (SELECT cid FROM counts WHERE n > {_SPLIT_MAX_CELL}),
    seeds AS (
      SELECT a.cid AS parent, MIN(a.vec_id) AS s1, MAX(a.vec_id) AS s2
      FROM assign a JOIN oversized o ON a.cid = o.cid
      GROUP BY a.cid),
    seedvecs AS (
      SELECT s.parent, x.vec_id AS scid, x.embedding AS sc
      FROM seeds s JOIN embeddings x ON x.vec_id IN (s.s1, s.s2)),
    resplit AS (
      SELECT a.vec_id, sv.parent, sv.scid,
             {sql_sq_l2('sv.sc', 'a.embedding')} AS d
      FROM assign a JOIN seedvecs sv ON sv.parent = a.cid),
    reassigned AS (
      SELECT vec_id, parent, scid AS cell FROM resplit
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, scid) = 1),
    final AS (
      SELECT a.vec_id, a.cid AS cell, a.cid AS parent
      FROM assign a
      WHERE a.cid NOT IN (SELECT cid FROM oversized)
      UNION ALL
      SELECT vec_id, cell, parent FROM reassigned)
    SELECT CAST(cell AS BIGINT) AS cell_id,
           CAST(parent AS BIGINT) AS parent_cell,
           COUNT(*) AS n_members
    FROM final GROUP BY cell, parent ORDER BY cell_id
    """


@query(
    "ann_ivf_cell_split_rebalance",
    survey="ANN-ops extension(IVF index maintenance: oversized cells are "
           "split in place — two deterministic seed vectors per hot cell, "
           "members reassigned to the nearer seed, untouched cells never "
           "rewritten; the serving-side rebalance that keeps cell-pruned "
           "scans bounded as the corpus grows)",
    oracle=_cell_split_oracle(),
)
def ann_ivf_cell_split_rebalance(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """IVF index maintenance: as a corpus grows, hot cells exceed the
    scan budget and must SPLIT without a full index rebuild. Cells over
    the threshold are split by two deterministic seed members (min/max
    id — the sampled-seed split strategy), their members reassigned to
    the nearer seed; all other cells keep their files untouched — the
    maintenance cost is proportional to the oversized cells only, the
    same touched-partition-only discipline as the SCD2 upkeep
    (SCALE.md §39).

    The output is the final cell roster (cell, parent, size): hash
    equality against the full relational mirror proves conservation
    (every vector exactly once), locality (untouched cells keep their
    exact membership), and the split itself."""
    from server2_vector_search_server_spark.functions.vector import (
        squared_l2_sql,
    )
    from server2_vector_search_server_spark.operators.ann import ivf_assign

    emb = tbl(spark, sf_dir, "embeddings")
    cents = (emb.filter(F.col("vec_id") < _SPLIT_N_CENTS)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("centroid")))
    assigned = ivf_assign(emb, cents).select(
        "vec_id", "embedding", F.col("centroid_id").alias("cid"))
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    oversized = [r["cid"] for r in
                 counts.filter(F.col("n") > _SPLIT_MAX_CELL).collect()]
    if not oversized:
        return (assigned.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n_members"))
            .select(F.col("cid").cast("long").alias("cell_id"),
                    F.col("cid").cast("long").alias("parent_cell"),
                    "n_members").orderBy("cell_id"))
    hot = assigned.filter(F.col("cid").isin(oversized))
    seeds = (hot.groupBy(F.col("cid").alias("parent"))
             .agg(F.min("vec_id").alias("s1"), F.max("vec_id").alias("s2")))
    seedvecs = (seeds
                .join(emb.select(F.col("vec_id").alias("scid"),
                                 F.col("embedding").alias("sc")),
                      (F.col("scid") == F.col("s1"))
                      | (F.col("scid") == F.col("s2")))
                .select("parent", "scid", "sc"))
    resplit = (hot.join(F.broadcast(seedvecs),
                        hot.cid == F.col("parent"))
               .withColumn("d", F.expr(squared_l2_sql("sc", "embedding"))))
    w = Window.partitionBy("vec_id").orderBy("d", "scid")
    reassigned = (resplit.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select("vec_id", F.col("scid").alias("cell"),
                          "parent"))
    untouched = (assigned.filter(~F.col("cid").isin(oversized))
                 .select("vec_id", F.col("cid").alias("cell"),
                         F.col("cid").alias("parent")))
    final = untouched.unionByName(reassigned)
    return (final.groupBy("cell", "parent")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .select(F.col("cell").cast("long").alias("cell_id"),
                    F.col("parent").cast("long").alias("parent_cell"),
                    "n_members")
            .orderBy("cell_id"))


# ---------------------------------------------------------------------------
# 37. SLO burn-rate alerting (multi-window error-budget analysis)

_SLO_TARGET = 0.75       # "good" ratio objective (error events are ~20%)
_SLO_FAST_H = 1          # fast window (hours)
_SLO_SLOW_H = 6          # slow window (hours)
_SLO_BURN = 1.1          # alert when burn rate exceeds this in BOTH windows


@query(
    "events_slo_burn_alerts",
    survey="observability extension(SLO error-budget burn-rate alerting: "
           "per-hour error ratios, fast+slow trailing windows, alert "
           "only when BOTH windows burn — the multi-window multi-burn "
           "policy from the SRE workbook)",
    oracle=f"""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h,
             COUNT(*) AS n,
             COUNT(*) FILTER (event_type = 'error') AS n_err
      FROM events GROUP BY h),
    win AS (
      SELECT h, n, n_err,
             SUM(n) OVER wf AS n_fast, SUM(n_err) OVER wf AS e_fast,
             SUM(n) OVER ws AS n_slow, SUM(n_err) OVER ws AS e_slow
      FROM hours
      WINDOW wf AS (ORDER BY h ROWS BETWEEN {_SLO_FAST_H - 1} PRECEDING
                    AND CURRENT ROW),
             ws AS (ORDER BY h ROWS BETWEEN {_SLO_SLOW_H - 1} PRECEDING
                    AND CURRENT ROW)),
    rates AS (
      SELECT h,
             (CAST(e_fast AS DOUBLE) / n_fast)
               / (1.0 - {_SLO_TARGET}) AS burn_fast,
             (CAST(e_slow AS DOUBLE) / n_slow)
               / (1.0 - {_SLO_TARGET}) AS burn_slow
      FROM win)
    SELECT strftime(h, '%Y-%m-%d %H:00') AS alert_hour,
           ROUND(burn_fast, 6) AS burn_fast,
           ROUND(burn_slow, 6) AS burn_slow
    FROM rates
    WHERE burn_fast > {_SLO_BURN} AND burn_slow > {_SLO_BURN}
    ORDER BY alert_hour
    """,
)
def events_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget burn-rate alerting (the Google SRE workbook's public
    multi-window, multi-burn-rate policy): hourly error ratios roll into
    a fast (1 h) and a slow (6 h) trailing window; an alert fires only
    when BOTH windows burn budget faster than the threshold — the fast
    window gives detection latency, the slow window suppresses blips.

    Scale shape: one event-grain aggregate to the hour grain (partial
    map-side), then BOTH trailing windows run over the hour-grain table —
    thousands of rows per year regardless of event volume — under one
    ORDER BY h sort. The alert predicate is a projection."""
    ev = tbl(spark, sf_dir, "events")
    hours = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count(F.when(F.col("event_type") == "error", 1))
                  .alias("n_err")))
    wf = Window.orderBy("h").rowsBetween(-(_SLO_FAST_H - 1), 0)
    ws = Window.orderBy("h").rowsBetween(-(_SLO_SLOW_H - 1), 0)
    budget = 1.0 - _SLO_TARGET
    burn_fast = (F.sum("n_err").over(wf).cast("double")
                 / F.sum("n").over(wf)) / budget
    burn_slow = (F.sum("n_err").over(ws).cast("double")
                 / F.sum("n").over(ws)) / budget
    return (hours
            .withColumn("burn_fast", burn_fast)
            .withColumn("burn_slow", burn_slow)
            .filter((F.col("burn_fast") > _SLO_BURN)
                    & (F.col("burn_slow") > _SLO_BURN))
            .select(F.date_format("h", "yyyy-MM-dd HH:00")
                    .alias("alert_hour"),
                    F.round("burn_fast", 6).alias("burn_fast"),
                    F.round("burn_slow", 6).alias("burn_slow"))
            .orderBy("alert_hour"))


# ---------------------------------------------------------------------------
# 38. Data-contract validation (constraint report with planted violations)

@query(
    "store_data_contract_checks",
    survey="store extension(data-contract validation: PK uniqueness, FK "
           "integrity, range and null-rate rules evaluated as one report "
           "— with planted violations proving each rule actually fires)",
    oracle="""
    WITH orders2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      UNION ALL   -- planted: duplicate PKs + dangling FK + bad price
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey % 1000 = 7
      UNION ALL
      SELECT 900000001 + range AS o_orderkey,
             999999000 + range AS o_custkey,
             -5.0 AS o_totalprice
      FROM range(3)),
    pk AS (
      SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_rows
      FROM orders2),
    fk AS (
      SELECT COUNT(*) AS dangling FROM orders2 o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)),
    rng AS (
      SELECT COUNT(*) AS bad_price FROM orders2
      WHERE o_totalprice <= 0)
    SELECT check_name, n_violations, n_violations = 0 AS passes FROM (
      SELECT 'fk_custkey_exists' AS check_name,
             CAST(fk.dangling AS BIGINT) AS n_violations FROM fk
      UNION ALL
      SELECT 'pk_orderkey_unique', CAST(pk.dup_rows AS BIGINT) FROM pk
      UNION ALL
      SELECT 'price_positive', CAST(rng.bad_price AS BIGINT) FROM rng)
    ORDER BY check_name
    """,
)
def store_data_contract_checks(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Data-contract enforcement as a query: the ingested orders batch is
    validated against its contract — primary-key uniqueness, foreign-key
    integrity against customer, positive-price range — and the report
    counts violations per rule. Violations are PLANTED (replayed PKs,
    dangling custkeys, negative prices) so every rule demonstrably fires;
    on the clean fixture alone all counts would be zero and the checks
    vacuous.

    Scale shape: PK uniqueness is one partial-aggregable distinct-count;
    the FK check is a broadcast anti-join against the dimension keys;
    the range rule is a scan predicate. All three fold into one report —
    the shape dbt tests / Deequ constraint suites compile to."""
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    planted_dupes = orders.filter(F.col("o_orderkey") % 1000 == 7)
    planted_bad = spark.range(3).select(
        (F.lit(900000001) + F.col("id")).alias("o_orderkey"),
        (F.lit(999999000) + F.col("id")).alias("o_custkey"),
        F.lit(-5.0).alias("o_totalprice"))
    batch = orders.unionByName(planted_dupes).unionByName(planted_bad)
    cust_keys = tbl(spark, sf_dir, "customer").select("c_custkey")
    pk = batch.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .alias("n")).withColumn("check_name",
                                F.lit("pk_orderkey_unique"))
    fk = (batch.join(F.broadcast(cust_keys),
                     batch.o_custkey == cust_keys.c_custkey,
                     "left_anti")
          .agg(F.count(F.lit(1)).alias("n"))
          .withColumn("check_name", F.lit("fk_custkey_exists")))
    rng = (batch.filter(F.col("o_totalprice") <= 0)
           .agg(F.count(F.lit(1)).alias("n"))
           .withColumn("check_name", F.lit("price_positive")))
    return (pk.unionByName(fk).unionByName(rng)
            .select("check_name", F.col("n").cast("long")
                    .alias("n_violations"),
                    (F.col("n") == 0).alias("passes"))
            .orderBy("check_name"))


# ---------------------------------------------------------------------------
# 39. Differentially-private counts (seeded Laplace, portable noise)

_DP_EPSILON = 0.5
_DP_SEED = "dp_r5"


@query(
    "events_dp_noisy_counts",
    survey="privacy extension(differential privacy: per-type event counts "
           "released with Laplace(1/ε) noise — noise drawn from a "
           "deterministic portable hash-uniform so the mechanism itself "
           "is hash-checkable; complements documents_k_anonymity_screen)",
    oracle=f"""
    WITH c AS (
      SELECT event_type, COUNT(*) AS true_n FROM events
      GROUP BY event_type),
    u AS (
      SELECT event_type, true_n,
             (CAST(('0x' || substr(md5('{_DP_SEED}' || event_type), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS cu
      FROM c)
    SELECT event_type, CAST(true_n AS BIGINT) AS true_n,
           CAST(ROUND(true_n - (1.0 / {_DP_EPSILON})
                 * CASE WHEN cu >= 0 THEN 1.0 ELSE -1.0 END
                 * ln(1.0 - 2.0 * abs(cu))) AS BIGINT) AS noisy_n,
           {_DP_EPSILON} AS epsilon
    FROM u ORDER BY event_type
    """,
)
def events_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006, the public
    Laplace mechanism): each per-type count is perturbed with
    Laplace(Δf/ε) noise (sensitivity 1 for counting queries), giving
    ε-DP per released statistic. The noise here is drawn from a SEEDED
    portable hash-uniform (md5 of seed+key → (−0.5, 0.5), inverse-CDF to
    Laplace) — deterministic so the mechanism is hash-checkable end to
    end; a production release swaps the seed source for a secure RNG and
    nothing else changes.

    Scale shape: one partial-aggregable count per key; the noise is a
    projection. The true_n column exists for the parity contract only —
    a real release would drop it (and the k-anonymity screen's
    suppression rule composes: suppress below-threshold groups BEFORE
    noising)."""
    ev = tbl(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    cu = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(_DP_SEED), F.col("event_type"))), 1, 8),
        16, 10).cast("long") + 0.5) / 4294967296.0 - 0.5)
    lap = ((1.0 / _DP_EPSILON)
           * F.when(cu >= 0, 1.0).otherwise(-1.0)
           * F.log(1.0 - 2.0 * F.abs(cu)))
    return (c.select("event_type",
                     F.col("true_n").cast("long").alias("true_n"),
                     F.round(F.col("true_n") - lap).cast("long")
                     .alias("noisy_n"),
                     F.lit(_DP_EPSILON).alias("epsilon"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# 40. Seasonal-naive forecast backtest (same-month-last-year + MAPE)

@query(
    "orders_seasonal_naive_backtest",
    survey="forecasting extension(seasonal-naive backtest: forecast = "
           "same-month-last-year revenue, scored with MAPE per nation — "
           "the baseline every real forecasting pipeline must beat)",
    oracle="""
    WITH rev AS (
      SELECT n_name AS nation,
             year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, yr, mo),
    scored AS (
      SELECT cur.nation, cur.yr, cur.mo, cur.cents,
             prev.cents AS forecast_cents
      FROM rev cur JOIN rev prev
        ON prev.nation = cur.nation AND prev.mo = cur.mo
       AND prev.yr = cur.yr - 1)
    SELECT nation,
           COUNT(*) AS n_months,
           ROUND(SUM(ABS(CAST(cents - forecast_cents AS DOUBLE))
                     / cents) / COUNT(*), 6) AS mape,
           CAST(SUM(CAST(cents > forecast_cents AS INTEGER)) AS BIGINT)
             AS n_up_months
    FROM scored GROUP BY nation ORDER BY nation
    """,
)
def orders_seasonal_naive_backtest(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The seasonal-naive baseline (forecast each month's revenue with the
    same month last year) backtested per nation with MAPE — the
    floor-model every forecasting system reports against, and the
    benchmark Holt/ARIMA upgrades must beat. The self-join on
    (nation, month, year−1) IS the forecast; no model state exists.

    Scale shape: the monthly grain aggregate is the only
    data-proportional step (partial map-side); the lag self-join and the
    MAPE rollup run on nations × months rows. MAPE folds exact integer
    cents through a deterministic double division per row, rounded once."""
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    rev = (orders
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("yr"),
                    F.month("o_orderdate").alias("mo"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("cents")))
    prev = rev.select(F.col("nation").alias("p_nation"),
                      F.col("yr").alias("p_yr"),
                      F.col("mo").alias("p_mo"),
                      F.col("cents").alias("forecast_cents"))
    scored = rev.join(prev, (F.col("p_nation") == F.col("nation"))
                      & (F.col("p_mo") == F.col("mo"))
                      & (F.col("p_yr") == F.col("yr") - 1))
    return (scored.groupBy("nation")
            .agg(F.count(F.lit(1)).alias("n_months"),
                 F.round(F.sum(
                     F.abs((F.col("cents") - F.col("forecast_cents"))
                           .cast("double")) / F.col("cents"))
                     / F.count(F.lit(1)), 6).alias("mape"),
                 F.sum((F.col("cents") > F.col("forecast_cents"))
                       .cast("int")).cast("long").alias("n_up_months"))
            .orderBy("nation"))


# ---------------------------------------------------------------------------
# Isotonic calibration via the PAV minimax closed form

_ISO_BIN_LO, _ISO_BIN_HI = -7, 8


@query(
    "events_roc_auc_daily",
    survey="insight extension(rank-based ROC-AUC per day of event value "
           "as a purchase score — Mann-Whitney pair-count form over the "
           "DISTINCT-score spine: concordant + half-tie pairs as EXACT "
           "integers, AUC as their rational; the missing member of the "
           "eval family next to isotonic calibration / nDCG / MRR)",
    oracle="""
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day, CAST(value AS DOUBLE) AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL),
    per AS (
      SELECT day, score, CAST(SUM(pos) AS BIGINT) AS p,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n
      FROM base GROUP BY day, score),
    spine AS (
      SELECT day, p, n,
             COALESCE(SUM(n) OVER (PARTITION BY day ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cumneg
      FROM per),
    agg AS (
      SELECT day, SUM(p * cumneg) AS conc, SUM(p * n) AS ties,
             SUM(p) AS np, SUM(n) AS nn
      FROM spine GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(2 * conc + ties AS BIGINT) AS auc_num,
           CAST(2 * np * nn AS BIGINT) AS auc_den,
           ROUND(CAST(2 * conc + ties AS DOUBLE)
                 / CAST(2 * np * nn AS DOUBLE), 6) AS auc,
           CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
    FROM agg WHERE np > 0 AND nn > 0
    ORDER BY day
    """,
)
def events_roc_auc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ROC-AUC of ``value`` as a purchase classifier, in the
    Mann-Whitney pair-count form: AUC = (concordant + tie/2) / (P*N),
    computed as the exact integer rational (2*conc + ties) / (2*P*N) so
    the hashable columns are BIGINTs and the rounded double divides the
    SAME operands on both engines. The cumulative-negative window runs
    over the per-(day, distinct score) spine — cardinality bounded by
    distinct values per day, never the row count — the same bounded-spine
    pattern as ``events_concurrency_sweep``; everything else is
    partial-aggregable. At 100 TB: group-to-spine is one shuffle on
    (day, score); the window partitions by day (bounded state); no global
    row sort anywhere — the classic sort-all-rows AUC implementation is
    exactly what this form avoids. NULL scores are filtered explicitly
    on BOTH sides (ADVICE r7): Spark's window ORDER BY sorts NULLS
    FIRST, DuckDB's NULLS LAST, so an unfiltered NULL group would fold
    into ``cumneg`` differently per engine — pin the semantics instead
    of relying on the corpus having no NULL values."""
    ev = (tbl(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select(
              F.date_format("ts", "yyyy-MM-dd").alias("day"),
              F.col("value").cast("double").alias("score"),
              (F.col("event_type") == "purchase").cast("long").alias("pos")))
    per = (ev.groupBy("day", "score")
           .agg(F.sum("pos").alias("p"),
                (F.count(F.lit(1)) - F.sum("pos")).alias("n")))
    w = (Window.partitionBy("day").orderBy("score")
         .rowsBetween(Window.unboundedPreceding, -1))
    spine = per.withColumn(
        "cumneg", F.coalesce(F.sum("n").over(w), F.lit(0)))
    agg = (spine.groupBy("day")
           .agg(F.sum(F.col("p") * F.col("cumneg")).alias("conc"),
                F.sum(F.col("p") * F.col("n")).alias("ties"),
                F.sum("p").alias("np"), F.sum("n").alias("nn")))
    num = 2 * F.col("conc") + F.col("ties")
    den = 2 * F.col("np") * F.col("nn")
    return (agg.filter((F.col("np") > 0) & (F.col("nn") > 0))
            .select("day",
                    num.cast("long").alias("auc_num"),
                    den.cast("long").alias("auc_den"),
                    F.round(num.cast("double") / den.cast("double"), 6)
                    .alias("auc"),
                    F.col("np").cast("long").alias("n_pos"),
                    F.col("nn").cast("long").alias("n_neg"))
            .orderBy("day"))


@query(
    "events_isotonic_calibration",
    survey="insight extension(isotonic regression calibration of purchase "
           "rate vs value bin — the PAV fit computed by its exact minimax "
           "closed form max_{i<=k} min_{j>=k} avg(i..j) over bounded "
           "bins, Robertson/Barlow order-restricted inference)",
    oracle=f"""
    WITH base AS (
      SELECT GREATEST({_ISO_BIN_LO}, LEAST({_ISO_BIN_HI},
               CAST(FLOOR(ROUND(ln(CAST(value AS DOUBLE)) / ln(2.0), 9))
                    AS INTEGER))) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS good
      FROM events WHERE value > 0),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(good) AS BIGINT) AS goods
      FROM base GROUP BY bin),
    ivl AS (
      SELECT i.bin AS i, j.bin AS j,
             CAST(SUM(m.goods) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS a
      FROM bins i JOIN bins j ON i.bin <= j.bin
      JOIN bins m ON m.bin BETWEEN i.bin AND j.bin
      GROUP BY i.bin, j.bin),
    inner_min AS (
      SELECT k.bin AS k, ivl.i, MIN(ivl.a) AS m
      FROM bins k JOIN ivl ON ivl.i <= k.bin AND ivl.j >= k.bin
      GROUP BY k.bin, ivl.i),
    fit AS (SELECT k, MAX(m) AS iso FROM inner_min GROUP BY k)
    SELECT b.bin, b.n, b.goods,
           ROUND(CAST(b.goods AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS rate,
           ROUND(f.iso, 6) AS iso_rate
    FROM bins b JOIN fit f ON f.k = b.bin
    ORDER BY b.bin
    """,
)
def events_isotonic_calibration(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the purchase rate against the
    value bin — the PAV solution computed by its EXACT minimax identity
    fit_k = max_{i<=k} min_{j>=k} weightedAvg(i..j), so no sequential
    pooling loop exists anywhere: the whole fit is three joins over the
    BOUNDED bin table (16 bins -> <=16^3 interval rows), each
    partial-aggregable. Interval averages divide the same exact integer
    sums on both engines (IEEE division of identical operands is
    bit-identical), so min/max select identical values and the fit is
    hash-exact.

    Scale shape: the data-proportional work is ONE groupBy onto the
    bounded bin key; everything after runs on <=16-row tables. This is
    the standard probability-calibration step (Zadrozny & Elkan 2002)
    run after the WoE diagnostic (events_woe_value_bins)."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    bin_col = F.greatest(
        F.lit(_ISO_BIN_LO),
        F.least(F.lit(_ISO_BIN_HI),
                F.floor(F.round(F.log(F.col("value").cast("double"))
                                / F.log(F.lit(2.0)), 9)).cast("int")))
    bins = (ev.select(bin_col.alias("bin"),
                      F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0).alias("good"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("good").cast("long").alias("goods"))
            .localCheckpoint(eager=True))   # bounded; reused by 3 joins
    bi = bins.select(F.col("bin").alias("i"))
    bj = bins.select(F.col("bin").alias("j"))
    bm = bins.select(F.col("bin").alias("m"), "n", "goods")
    ivl = (bi.join(bj, F.col("i") <= F.col("j"))
           .join(bm, (F.col("m") >= F.col("i")) & (F.col("m") <= F.col("j")))
           .groupBy("i", "j")
           .agg((F.sum("goods").cast("double")
                 / F.sum("n").cast("double")).alias("a")))
    ks = bins.select(F.col("bin").alias("k"))
    inner = (ks.join(ivl, (F.col("i") <= F.col("k"))
                     & (F.col("j") >= F.col("k")))
             .groupBy("k", "i").agg(F.min("a").alias("m_a")))
    fit = inner.groupBy("k").agg(F.max("m_a").alias("iso"))
    return (bins.join(fit, bins.bin == fit.k)
            .select("bin", "n", "goods",
                    F.round(F.col("goods").cast("double")
                            / F.col("n").cast("double"), 6).alias("rate"),
                    F.round("iso", 6).alias("iso_rate"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval

_BOOT_N = 500          # event_id 0..499 is a dense, sf-stable sample frame
_BOOT_B = 200          # bootstrap replicates
_BOOT_LO_RANK = 5      # 2.5th percentile of 200 sorted means
_BOOT_HI_RANK = 196    # 97.5th

_SQL_BOOT_IDX = ("(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(r * 1000000 + j AS "
    f"VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (7 - i)}" for i in range(8))
    + f") % {_BOOT_N}")


@query(
    "events_bootstrap_ci",
    survey="insight extension(nonparametric bootstrap CI for the mean: "
           "B=200 deterministic md5-indexed resamples, exact micro-unit "
           "replicate means, rank-selected percentile bounds — Efron "
           "1979 made engine-reproducible)",
    oracle=f"""
    WITH frame AS (
      SELECT event_id, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id < {_BOOT_N}),
    draws AS (
      SELECT r.r, {_SQL_BOOT_IDX} AS idx
      FROM UNNEST(range(0, {_BOOT_B})) AS r(r),
           UNNEST(range(0, {_BOOT_N})) AS d(j)),
    means AS (
      SELECT r, SUM(CAST(ROUND(f.v * 1000000) AS BIGINT)) AS s_micro
      FROM draws JOIN frame f ON f.event_id = draws.idx
      GROUP BY r),
    ranked AS (
      SELECT s_micro,
             row_number() OVER (ORDER BY s_micro, r) AS rk
      FROM means),
    pt AS (
      SELECT SUM(CAST(ROUND(v * 1000000) AS BIGINT)) AS s_micro FROM frame)
    SELECT CAST({_BOOT_N} AS BIGINT) AS n,
           CAST({_BOOT_B} AS BIGINT) AS replicates,
           ROUND((pt.s_micro / 1000000.0) / {_BOOT_N}, 6) AS point_mean,
           ROUND((lo.s_micro / 1000000.0) / {_BOOT_N}, 6) AS ci_lo,
           ROUND((hi.s_micro / 1000000.0) / {_BOOT_N}, 6) AS ci_hi
    FROM pt,
         (SELECT s_micro FROM ranked WHERE rk = {_BOOT_LO_RANK}) lo,
         (SELECT s_micro FROM ranked WHERE rk = {_BOOT_HI_RANK}) hi
    """,
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean event value —
    with the resampling made DETERMINISTIC and engine-portable: replicate
    r's draw j picks index md5(r*1e6+j) mod n (the registry's digit-wise
    portable hash), so both engines materialize the identical 200
    resamples and the CI itself is hash-checked, not bound-checked. The
    usual RNG bootstrap can't be oracle-verified at all — seeded hashing
    is what makes resampling-based stats testable across engines (and
    reproducible across cluster re-runs, which is the production point).

    Scale shape: draws are generated by a double sequence-explode (B x n
    rows, no data scan), joined to the sample frame on its dense key —
    an equi-join the planner broadcasts (frame <= n rows); replicate
    means fold as exact micro-units; rank selection runs on the B-row
    bounded table. For a 100 TB table the frame is a hash-sampled slice
    (hash_sample_documents), never the full table."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("event_id") < _BOOT_N)
    frame = ev.select("event_id", F.col("value").cast("double").alias("v"))
    rs = spark.range(_BOOT_B).select(F.col("id").alias("r"))
    draws = (rs.join(spark.range(_BOOT_N).select(F.col("id").alias("j")))
             .select("r",
                     (F.conv(F.substring(
                         F.md5((F.col("r") * 1_000_000 + F.col("j"))
                               .cast("string")), 1, 8), 16, 10)
                      .cast("long") % _BOOT_N).alias("idx")))
    means = (draws.join(F.broadcast(frame),
                        draws.idx == frame.event_id)
             .groupBy("r")
             .agg(F.sum(F.round(F.col("v") * 1_000_000).cast("long"))
                  .alias("s_micro")))
    from pyspark.sql import Window
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("s_micro", "r")))
    pt = frame.agg(F.sum(F.round(F.col("v") * 1_000_000).cast("long"))
                   .alias("pt_micro"))
    lo = (ranked.filter(F.col("rk") == _BOOT_LO_RANK)
          .select(F.col("s_micro").alias("lo_micro")))
    hi = (ranked.filter(F.col("rk") == _BOOT_HI_RANK)
          .select(F.col("s_micro").alias("hi_micro")))
    return (pt.join(lo).join(hi)
            .select(F.lit(_BOOT_N).cast("long").alias("n"),
                    F.lit(_BOOT_B).cast("long").alias("replicates"),
                    F.round((F.col("pt_micro") / 1_000_000.0) / _BOOT_N, 6)
                    .alias("point_mean"),
                    F.round((F.col("lo_micro") / 1_000_000.0) / _BOOT_N, 6)
                    .alias("ci_lo"),
                    F.round((F.col("hi_micro") / 1_000_000.0) / _BOOT_N, 6)
                    .alias("ci_hi")))


# ---------------------------------------------------------------------------
# Markov-chain (removal-effect) attribution

_MK_CHANNELS = ("click", "error", "signup", "view")
_MK_ROUNDS = 64   # long journeys: 16 rounds left ~2% mass unabsorbed
_MK_PICO = 1_000_000_000_000
_MK_STATES_SQL = ("(VALUES ('start'), ('click'), ('error'), ('signup'), "
                  "('view'))")
_MK_VARIANTS_SQL = ("(VALUES ('full'), ('click'), ('error'), ('signup'), "
                    "('view'))")
_MK_TRANSIENT_SQL = "('click', 'error', 'signup', 'view')"


def _sql_markov_attribution() -> str:
    head = f"""
    seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    firstp AS (
      SELECT user_id, MIN(rn) AS prn FROM seq
      WHERE event_type = 'purchase' GROUP BY user_id),
    j AS MATERIALIZED (
      SELECT s.user_id,
             CASE WHEN s.event_type = 'purchase' THEN 'conv'
                  ELSE s.event_type END AS st, s.rn
      FROM seq s LEFT JOIN firstp f ON s.user_id = f.user_id
      WHERE f.prn IS NULL OR s.rn <= f.prn),
    trans AS (
      SELECT COALESCE(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
                      'start') AS src, st AS dst
      FROM j),
    term AS (
      SELECT st AS src, 'null' AS dst
      FROM (SELECT st, rn, MAX(rn) OVER (PARTITION BY user_id) AS mx,
                   MAX(CASE WHEN st = 'conv' THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id) AS has_conv
            FROM j)
      WHERE rn = mx AND has_conv = 0),
    alltrans AS (SELECT src, dst FROM trans
                 UNION ALL SELECT src, dst FROM term),
    cnt AS (SELECT src, dst, COUNT(*) AS c FROM alltrans GROUP BY src, dst),
    tot AS (SELECT src, SUM(c) AS t FROM cnt GROUP BY src),
    prob AS MATERIALIZED (
      SELECT cnt.src, cnt.dst, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
      FROM cnt JOIN tot ON cnt.src = tot.src),
    variants AS (SELECT * FROM {_MK_VARIANTS_SQL} v(removed)),
    vp AS MATERIALIZED (
      SELECT v.removed, p.src, p.dst, p.p
      FROM variants v JOIN prob p
        ON p.dst <> v.removed AND p.src <> v.removed
      WHERE p.dst IN {_MK_TRANSIENT_SQL}),
    ct AS MATERIALIZED (
      SELECT v.removed, s.state,
             COALESCE(CAST(ROUND(p.p * {_MK_PICO}) AS BIGINT), 0)
               AS conv_pico
      FROM variants v
      JOIN {_MK_STATES_SQL} s(state) ON s.state <> v.removed
      LEFT JOIN prob p ON p.src = s.state AND p.dst = 'conv'),
    pv1 AS MATERIALIZED (SELECT removed, state, conv_pico AS p_pico FROM ct)"""
    rounds = []
    for k in range(2, _MK_ROUNDS + 1):
        rounds.append(f"""
    pv{k} AS MATERIALIZED (
      SELECT ct.removed, ct.state,
             ct.conv_pico + COALESCE(SUM(CAST(ROUND(e.p * pv.p_pico)
                                              AS BIGINT)), 0) AS p_pico
      FROM ct
      LEFT JOIN vp e ON e.removed = ct.removed AND e.src = ct.state
      LEFT JOIN pv{k - 1} pv ON pv.removed = e.removed AND pv.state = e.dst
      GROUP BY ct.removed, ct.state, ct.conv_pico)""")
    last = f"pv{_MK_ROUNDS}"
    tail = f"""
    ,pf AS (SELECT p_pico FROM {last}
            WHERE removed = 'full' AND state = 'start'),
    eff AS (
      SELECT v.removed AS channel,
             pf.p_pico AS full_pico,
             r.p_pico AS removed_pico,
             pf.p_pico - r.p_pico AS effect_pico
      FROM variants v
      JOIN {last} r ON r.removed = v.removed AND r.state = 'start'
      CROSS JOIN pf
      WHERE v.removed <> 'full'),
    etot AS (SELECT SUM(effect_pico) AS e FROM eff)
    SELECT channel,
           ROUND(full_pico / {_MK_PICO}.0, 6) AS p_conv_full,
           ROUND(removed_pico / {_MK_PICO}.0, 6) AS p_conv_removed,
           ROUND(effect_pico / {_MK_PICO}.0, 6) AS removal_effect,
           ROUND(CAST(effect_pico AS DOUBLE)
                 / CAST(NULLIF(etot.e, 0) AS DOUBLE), 6)
             AS attribution_share
    FROM eff, etot ORDER BY channel"""
    return "WITH " + head + "," + ",".join(rounds) + tail


@query(
    "events_markov_attribution",
    survey="insight extension(Markov-chain marketing attribution: "
           "first-order journey transition model, conversion probability "
           "by truncated absorbing-chain iteration, per-channel removal "
           "effects and shares — Anderl et al. 2016's data-driven "
           "attribution, hash-exact via pico-unit iteration)",
    oracle=_sql_markov_attribution(),
)
def events_markov_attribution(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Removal-effect attribution over user journeys: order each user's
    events, truncate at first purchase ('conv'), close non-converting
    journeys with 'null', estimate the first-order transition matrix, and
    credit each channel by how much the start->conv absorption probability
    drops when that channel is deleted from the chain (transitions into it
    become lost mass).

    Scale shape: the data-proportional work is one user-keyed window pass
    + one (src, dst) groupBy — the transition matrix is BOUNDED by the
    state domain (<= 6 x 7 cells), so the absorbing-chain arithmetic is
    driver-side bounded compute, exactly like the procrustes/ZCA d x d
    step. The truncated iteration (64 rounds) carries probabilities as
    pico-unit INTEGERS with half-away rounding each round, so the oracle's
    unrolled 64-round CTE chain reproduces every intermediate bit and the
    final shares hash-match — no invariant hedging."""
    import math

    ev = tbl(spark, sf_dir, "events")
    from pyspark.sql import Window
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wuser = Window.partitionBy("user_id")
    seq = ev.select("user_id",
                    F.when(F.col("event_type") == "purchase", "conv")
                    .otherwise(F.col("event_type")).alias("st"),
                    F.row_number().over(wseq).alias("rn"))
    prn = (F.min(F.when(F.col("st") == "conv", F.col("rn")))
           .over(wuser))
    j = (seq.withColumn("prn", prn)
         .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))))
    trans = j.select(
        F.coalesce(F.lag("st").over(wseq.orderBy("rn")), F.lit("start"))
        .alias("src"),
        F.col("st").alias("dst"))
    term = (j.withColumn("mx", F.max("rn").over(wuser))
            .withColumn("has_conv",
                        F.max((F.col("st") == "conv").cast("int"))
                        .over(wuser))
            .filter((F.col("rn") == F.col("mx")) & (F.col("has_conv") == 0))
            .select(F.col("st").alias("src"), F.lit("null").alias("dst")))
    cnt = (trans.unionByName(term).groupBy("src", "dst")
           .agg(F.count(F.lit(1)).alias("c")).collect())    # bounded <=42
    totals: dict[str, int] = {}
    for r in cnt:
        totals[r["src"]] = totals.get(r["src"], 0) + r["c"]
    prob = {(r["src"], r["dst"]): r["c"] / totals[r["src"]] for r in cnt}

    def rnd(x: float) -> int:
        return (-1 if x < 0 else 1) * math.floor(abs(x) + 0.5)

    states = ("start",) + _MK_CHANNELS

    def absorb(removed: str | None) -> int:
        live = [s for s in states if s != removed]
        conv = {s: rnd(prob.get((s, "conv"), 0.0) * _MK_PICO) for s in live}
        p = dict(conv)
        for _ in range(2, _MK_ROUNDS + 1):
            p = {s: conv[s] + sum(rnd(prob[(s, c)] * p[c])
                                  for c in _MK_CHANNELS
                                  if c != removed and (s, c) in prob)
                 for s in live}
        return p["start"]

    pf = absorb(None)
    rows = []
    for ch in _MK_CHANNELS:
        pr = absorb(ch)
        rows.append((ch, pf, pr, pf - pr))
    etot = sum(r[3] for r in rows)

    def r6(x: float) -> float:
        return (-1 if x < 0 else 1) * math.floor(abs(x) * 1e6 + 0.5) / 1e6

    out = [(ch, r6(f / _MK_PICO), r6(r / _MK_PICO), r6(e / _MK_PICO),
            (r6(e / etot) if etot != 0 else None))
           for ch, f, r, e in rows]
    return spark.createDataFrame(
        out, "channel string, p_conv_full double, p_conv_removed double, "
             "removal_effect double, attribution_share double")


# ---------------------------------------------------------------------------
# Exact Shapley-value attribution over bounded channel coalitions

_SHAP_BITS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}    # |S|!(n-1-|S|)! for n = 4
_SHAP_DENOM = 24                       # n!
_SHAP_BIT_SQL = ("CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
                 "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END")
_SHAP_W_SQL = ("CASE bit_count(ss.s0) WHEN 0 THEN 6 WHEN 1 THEN 2 "
               "WHEN 2 THEN 2 ELSE 6 END")


@query(
    "events_shapley_attribution",
    survey="insight extension(EXACT Shapley-value attribution over the "
           "16 channel coalitions: user-day journeys, subset-contained "
           "coalition values, integer n!-scaled Shapley weights — the "
           "cooperative-game counterpart to events_markov_attribution, "
           "efficiency axiom hash-pinned)",
    oracle=f"""
    WITH j AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             bit_or({_SHAP_BIT_SQL}) AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    bym AS (
      SELECT mask, CAST(SUM(conv) AS BIGINT) AS n_conv FROM j
      GROUP BY mask),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_j FROM j),
    coal AS (
      SELECT s.s, COALESCE(SUM(b.n_conv), 0) AS v
      FROM UNNEST(range(0, 16)) AS s(s)
      LEFT JOIN bym b ON (b.mask & s.s) = b.mask
      GROUP BY s.s),
    phi AS (
      SELECT ch.name AS channel,
             SUM({_SHAP_W_SQL} * (cu.v - cs.v)) AS phi_scaled
      FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                   ('view', 8)) ch(name, bit)
      JOIN (SELECT unnest(range(0, 16)) AS s0) ss ON (ss.s0 & ch.bit) = 0
      JOIN coal cs ON cs.s = ss.s0
      JOIN coal cu ON cu.s = (ss.s0 | ch.bit)
      GROUP BY ch.name),
    eff AS (
      SELECT (SELECT SUM(phi_scaled) FROM phi) AS tot,
             {_SHAP_DENOM} * ((SELECT v FROM coal WHERE s = 15)
                              - (SELECT v FROM coal WHERE s = 0)) AS rhs)
    SELECT p.channel,
           ROUND(CAST(p.phi_scaled AS DOUBLE)
                 / ({_SHAP_DENOM}.0 * n.n_j), 6) AS shapley_value,
           ROUND(CAST(p.phi_scaled AS DOUBLE)
                 / CAST(NULLIF(eff.tot, 0) AS DOUBLE), 6) AS share,
           (eff.tot = eff.rhs) AS efficiency_ok
    FROM phi p, n, eff ORDER BY p.channel
    """,
)
def events_shapley_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953 applied a la Zhao
    et al. 2018): journeys are user-days, a coalition's value is the
    conversion count among journeys whose touched-channel set it covers,
    and each channel's credit is the EXACT Shapley sum — with n = 4
    channels the |S|!(n-1-|S|)!/n! weights are the integers {6,2,2,6}/24,
    so phi folds entirely in BIGINTs and the efficiency axiom
    sum(phi) = v(full) - v(empty) is checked as integer equality, not a
    tolerance.

    Scale shape: the data-proportional work is ONE groupBy to user-day
    masks (bit_or partial-aggregates) and one to per-mask conversion
    counts (<= 16 rows); every coalition/Shapley join runs on 16-row
    bounded tables. Exponential-in-channels is fine when channels are an
    enumerated product surface — the exact method's honest domain (the
    Markov twin covers large channel sets)."""
    ev = tbl(spark, sf_dir, "events")
    bit = F.when(F.col("event_type") == "click", 1) \
        .when(F.col("event_type") == "error", 2) \
        .when(F.col("event_type") == "signup", 4) \
        .when(F.col("event_type") == "view", 8).otherwise(0)
    j = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
         .agg(F.bit_or(bit).alias("mask"),
              F.max((F.col("event_type") == "purchase").cast("int"))
              .alias("conv")))
    bym = (j.groupBy("mask").agg(F.sum("conv").cast("long")
                                 .alias("n_conv"),
                                 F.count(F.lit(1)).cast("long")
                                 .alias("n_rows"))
           .localCheckpoint(eager=True))        # bounded <= 16 rows
    # journey total = Σ per-mask counts off the 16-row checkpoint — the
    # old `j.count()` was a SECOND full events scan + user-day shuffle
    # just to produce this one integer
    n_j = sum(r["n_rows"] for r in bym.select("n_rows").collect())
    ss = spark.range(16).select(F.col("id").cast("int").alias("s"))
    coal = (ss.join(bym, F.col("mask").bitwiseAND(F.col("s"))
                    == F.col("mask"), "left")
            .groupBy("s").agg(F.coalesce(F.sum("n_conv"), F.lit(0))
                              .alias("v"))
            .localCheckpoint(eager=True))
    ch = spark.createDataFrame(list(_SHAP_BITS), "name string, bit int")
    w = (F.when(F.bit_count("s") == 0, 6)
         .when(F.bit_count("s") == 1, 2)
         .when(F.bit_count("s") == 2, 2).otherwise(6))
    cs = coal.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    cu = coal.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    phi = (ch.join(ss, F.col("s").bitwiseAND(F.col("bit")) == 0)
           .join(cs, F.col("s0") == F.col("s"))
           .join(cu, F.col("s1") == F.col("s").bitwiseOR(F.col("bit")))
           .groupBy("name")
           .agg(F.sum(w * (F.col("v1") - F.col("v0")))
                .alias("phi_scaled")))
    tot = phi.agg(F.sum("phi_scaled").alias("tot"))
    rhs = (coal.agg(
        (F.lit(_SHAP_DENOM)
         * (F.max(F.when(F.col("s") == 15, F.col("v")))
            - F.max(F.when(F.col("s") == 0, F.col("v"))))).alias("rhs")))
    return (phi.join(F.broadcast(tot)).join(F.broadcast(rhs))
            .select(F.col("name").alias("channel"),
                    F.round(F.col("phi_scaled").cast("double")
                            / (float(_SHAP_DENOM) * n_j), 6)
                    .alias("shapley_value"),
                    F.round(F.col("phi_scaled").cast("double")
                            / F.when(F.col("tot") != 0, F.col("tot"))
                            .cast("double"), 6).alias("share"),
                    (F.col("tot") == F.col("rhs")).alias("efficiency_ok"))
            .orderBy("channel"))


# ---------------------------------------------------------------------------
# Population stability index (feature drift)

from server2_vector_search_server_spark.plans.product_analytics_queries import (  # noqa: E402,E501
    _WOE_BIN_HI,
    _WOE_BIN_LO,
)

_PSI_SPLIT_DAY = "2024-01-16"      # ref = days 1..15, cur = days 16..30


@query(
    "events_psi_drift",
    survey="insight extension(population stability index between the "
           "first and second half-month of the value feature: "
           "log2-binned Laplace-smoothed shares, exact nano-unit terms — "
           "the model-monitoring drift metric next to the chi-square "
           "source-drift screen)",
    oracle=f"""
    WITH base AS (
      SELECT GREATEST({_WOE_BIN_LO}, LEAST({_WOE_BIN_HI},
               CAST(FLOOR(ROUND(ln(CAST(value AS DOUBLE)) / ln(2.0), 9))
                    AS INTEGER))) AS bin,
             CASE WHEN CAST(ts AS DATE) < DATE '{_PSI_SPLIT_DAY}'
                  THEN 1 ELSE 0 END AS is_ref
      FROM events WHERE value > 0),
    grp AS (
      SELECT bin,
             CAST(SUM(is_ref) AS BIGINT) AS n_ref,
             CAST(COUNT(*) - SUM(is_ref) AS BIGINT) AS n_cur
      FROM base GROUP BY bin),
    tot AS (SELECT SUM(n_ref) AS r_tot, SUM(n_cur) AS c_tot,
                   COUNT(*) AS k FROM grp)
    SELECT bin, n_ref, n_cur,
           ROUND(((n_ref + 0.5) / (r_tot + 0.5 * k)
                  - (n_cur + 0.5) / (c_tot + 0.5 * k))
                 * ROUND(ln(((n_ref + 0.5) / (r_tot + 0.5 * k))
                            / ((n_cur + 0.5) / (c_tot + 0.5 * k))), 9),
                 9) AS psi_term
    FROM grp, tot ORDER BY bin
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the value feature between the two
    halves of the observation month — THE production model-monitoring
    drift metric (PSI > 0.2 = retrain trigger by industry convention).
    Laplace smoothing keeps empty bins finite; per-bin terms are reported
    so the alert can name WHICH bins moved (a scalar PSI can't).

    Scale shape: one groupBy onto the bounded log2-bin key with a
    conditional-sum split (no second scan for the reference window); the
    share arithmetic divides identical exact integers on both engines,
    and ln goes through round(.,9) before the product (the registry libm
    rule)."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    bin_col = F.greatest(
        F.lit(_WOE_BIN_LO),
        F.least(F.lit(_WOE_BIN_HI),
                F.floor(F.round(F.log(F.col("value").cast("double"))
                                / F.log(F.lit(2.0)), 9)).cast("int")))
    grp = (ev.select(bin_col.alias("bin"),
                     (F.to_date("ts")
                      < F.lit(_PSI_SPLIT_DAY).cast("date")).cast("int")
                     .alias("is_ref"))
           .groupBy("bin")
           .agg(F.sum("is_ref").cast("long").alias("n_ref"),
                (F.count(F.lit(1)) - F.sum("is_ref")).cast("long")
                .alias("n_cur")))
    tot = grp.agg(F.sum("n_ref").alias("r_tot"),
                  F.sum("n_cur").alias("c_tot"),
                  F.count(F.lit(1)).alias("k"))
    p = (F.col("n_ref") + 0.5) / (F.col("r_tot") + 0.5 * F.col("k"))
    q = (F.col("n_cur") + 0.5) / (F.col("c_tot") + 0.5 * F.col("k"))
    return (grp.join(F.broadcast(tot))
            .select("bin", "n_ref", "n_cur",
                    F.round((p - q) * F.round(F.log(p / q), 9), 9)
                    .alias("psi_term"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# Brier score with Murphy decomposition (forecast calibration eval)

_BRIER_SPLIT = "2024-01-16"    # train bins on days 1..15, score days 16..30


@query(
    "events_brier_decomposition",
    survey="insight extension(Brier score + Murphy 1973 decomposition "
           "reliability - resolution + uncertainty for the binned "
           "purchase-probability forecaster: train-half bin rates "
           "scored on the eval half, every term from exact integer "
           "counts)",
    oracle=f"""
    WITH base AS (
      SELECT GREATEST({_WOE_BIN_LO}, LEAST({_WOE_BIN_HI},
               CAST(FLOOR(ROUND(ln(CAST(value AS DOUBLE)) / ln(2.0), 9))
                    AS INTEGER))) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(ts AS DATE) < DATE '{_BRIER_SPLIT}'
                  THEN 1 ELSE 0 END AS is_train
      FROM events WHERE value > 0),
    fc AS (
      SELECT bin, SUM(y) AS ty, COUNT(*) AS tn
      FROM base WHERE is_train = 1 GROUP BY bin),
    ev AS (
      SELECT bin, CAST(SUM(y) AS BIGINT) AS ey,
             CAST(COUNT(*) AS BIGINT) AS en
      FROM base WHERE is_train = 0 GROUP BY bin),
    tot AS (SELECT SUM(ey) AS y_tot, SUM(en) AS n_tot FROM ev),
    terms AS (
      SELECT ev.bin, ev.en, ev.ey,
             CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE) AS f,
             CAST(ev.ey AS DOUBLE) / CAST(ev.en AS DOUBLE) AS o,
             CAST(tot.y_tot AS DOUBLE) / CAST(tot.n_tot AS DOUBLE) AS ob
      FROM ev JOIN fc ON fc.bin = ev.bin CROSS JOIN tot),
    agg AS (
      SELECT SUM(en) AS n,
             SUM(CAST(ROUND(en * (f - o) * (f - o) * 1000000000)
                      AS BIGINT)) AS rel_nano,
             SUM(CAST(ROUND(en * (o - ob) * (o - ob) * 1000000000)
                      AS BIGINT)) AS res_nano,
             SUM(CAST(ROUND((ey * (1.0 - f) * (1.0 - f)
                             + (en - ey) * f * f) * 1000000000)
                      AS BIGINT)) AS brier_nano
      FROM terms),
    unc AS (
      SELECT (CAST(y_tot AS DOUBLE) / n_tot)
             * (1.0 - CAST(y_tot AS DOUBLE) / n_tot) AS u FROM tot)
    SELECT CAST(agg.n AS BIGINT) AS n_eval,
           ROUND(brier_nano / 1000000000.0 / agg.n, 6) AS brier,
           ROUND(rel_nano / 1000000000.0 / agg.n, 6) AS reliability,
           ROUND(res_nano / 1000000000.0 / agg.n, 6) AS resolution,
           ROUND(unc.u, 6) AS uncertainty
    FROM agg, unc
    """,
)
def events_brier_decomposition(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Brier score of the binned purchase-rate forecaster (rates fit on
    the first half-month, scored on the second) with the Murphy
    decomposition: reliability (calibration error), resolution (how much
    the bins separate outcomes), uncertainty (base-rate entropy) — the
    decomposition that tells you WHETHER to recalibrate (reliability
    high) or refeaturize (resolution low). Per-bin terms weight exact
    integer counts by shared-op-order doubles and round to nano-units,
    so the whole report is hash-exact.

    Scale shape: two conditional aggregates onto the bounded bin key
    from ONE scan; everything downstream is bounded-row arithmetic
    (the WoE/PSI family's physics, completing train-vs-eval
    calibration)."""
    ev_t = tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    bin_col = F.greatest(
        F.lit(_WOE_BIN_LO),
        F.least(F.lit(_WOE_BIN_HI),
                F.floor(F.round(F.log(F.col("value").cast("double"))
                                / F.log(F.lit(2.0)), 9)).cast("int")))
    base = ev_t.select(
        bin_col.alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
        (F.to_date("ts") < F.lit(_BRIER_SPLIT).cast("date")).cast("int")
        .alias("is_train"))
    fc = (base.filter(F.col("is_train") == 1).groupBy("bin")
          .agg(F.sum("y").alias("ty"), F.count(F.lit(1)).alias("tn")))
    evl = (base.filter(F.col("is_train") == 0).groupBy("bin")
           .agg(F.sum("y").cast("long").alias("ey"),
                F.count(F.lit(1)).cast("long").alias("en")))
    tot = evl.agg(F.sum("ey").alias("y_tot"), F.sum("en").alias("n_tot"))
    f_col = F.col("ty").cast("double") / F.col("tn").cast("double")
    o_col = F.col("ey").cast("double") / F.col("en").cast("double")
    ob = F.col("y_tot").cast("double") / F.col("n_tot").cast("double")
    terms = (evl.join(fc, "bin").join(F.broadcast(tot))
             .select("en", "ey", f_col.alias("f"), o_col.alias("o"),
                     ob.alias("ob")))
    agg = terms.agg(
        F.sum("en").alias("n"),
        F.sum(F.round(F.col("en") * (F.col("f") - F.col("o"))
                      * (F.col("f") - F.col("o")) * 1_000_000_000)
              .cast("long")).alias("rel_nano"),
        F.sum(F.round(F.col("en") * (F.col("o") - F.col("ob"))
                      * (F.col("o") - F.col("ob")) * 1_000_000_000)
              .cast("long")).alias("res_nano"),
        F.sum(F.round((F.col("ey") * (1.0 - F.col("f"))
                       * (1.0 - F.col("f"))
                       + (F.col("en") - F.col("ey")) * F.col("f")
                       * F.col("f")) * 1_000_000_000)
              .cast("long")).alias("brier_nano"))
    unc = tot.select(
        (F.col("y_tot").cast("double") / F.col("n_tot")
         * (1.0 - F.col("y_tot").cast("double") / F.col("n_tot")))
        .alias("u"))
    return (agg.join(F.broadcast(unc))
            .select(F.col("n").cast("long").alias("n_eval"),
                    F.round(F.col("brier_nano") / 1_000_000_000.0
                            / F.col("n"), 6).alias("brier"),
                    F.round(F.col("rel_nano") / 1_000_000_000.0
                            / F.col("n"), 6).alias("reliability"),
                    F.round(F.col("res_nano") / 1_000_000_000.0
                            / F.col("n"), 6).alias("resolution"),
                    F.round(F.col("u"), 6).alias("uncertainty")))


# ---------------------------------------------------------------------------
# Order-statistic (distribution-free) median confidence interval

_MCI_N = 500            # the dense event_id 0..499 sample frame
_MCI_LO, _MCI_HI = 228, 273   # exact binomial(500, 1/2) 95% rank bounds,
                              # computed once offline and baked as literals


@query(
    "events_median_ci_order_stats",
    survey="insight extension(distribution-free median CI by exact "
           "binomial order-statistic ranks — the nonparametric "
           "counterpart to the bootstrap CI; rank selection only, no "
           "resampling, no asymptotics)",
    oracle=f"""
    WITH frame AS (
      SELECT event_id, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id < {_MCI_N}),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v, event_id) AS rk
      FROM frame),
    med AS (
      SELECT ROUND((SUM(CASE WHEN rk = {_MCI_N // 2} THEN v END)
                    + SUM(CASE WHEN rk = {_MCI_N // 2 + 1} THEN v END))
                   / 2.0, 6) AS median_v
      FROM ranked)
    SELECT CAST({_MCI_N} AS BIGINT) AS n, med.median_v,
           ROUND(lo.v, 6) AS ci_lo, ROUND(hi.v, 6) AS ci_hi
    FROM med,
         (SELECT v FROM ranked WHERE rk = {_MCI_LO}) lo,
         (SELECT v FROM ranked WHERE rk = {_MCI_HI}) hi
    """,
)
def events_median_ci_order_stats(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """95% confidence interval for the median by ORDER STATISTICS: with
    n = 500, P(x_(228) <= median <= x_(273)) >= 0.95 holds for ANY
    continuous distribution (exact binomial coverage — the rank bounds
    are precomputed literals, no normal approximation, no bootstrap).
    The companion to events_bootstrap_ci: zero resampling cost, exact
    coverage, but median-only.

    Scale shape: rank selection over the bounded sample frame (at scale,
    frame ranks come from the two-pass prefix scan, the Gini/Spearman
    discipline); everything is integer ranks + two rounded values."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").filter(F.col("event_id") < _MCI_N)
    ranked = (ev.select("event_id", F.col("value").cast("double").alias("v"))
              .withColumn("rk", F.row_number().over(
                  Window.orderBy("v", "event_id")))
              .localCheckpoint(eager=True))
    med = ranked.agg(F.round(
        (F.sum(F.when(F.col("rk") == _MCI_N // 2, F.col("v")))
         + F.sum(F.when(F.col("rk") == _MCI_N // 2 + 1, F.col("v"))))
        / 2.0, 6).alias("median_v"))
    lo = (ranked.filter(F.col("rk") == _MCI_LO)
          .select(F.round("v", 6).alias("ci_lo")))
    hi = (ranked.filter(F.col("rk") == _MCI_HI)
          .select(F.round("v", 6).alias("ci_hi")))
    return (med.join(lo).join(hi)
            .select(F.lit(_MCI_N).cast("long").alias("n"),
                    "median_v", "ci_lo", "ci_hi"))


# ---------------------------------------------------------------------------
# Randomized response (local differential privacy)

_RR_FLIP_NUM, _RR_FLIP_DEN = 1, 4     # flip probability p = 1/4


@query(
    "events_randomized_response_ldp",
    survey="insight extension(randomized response, Warner 1965: each "
           "user-day's purchase flag flips with p=1/4 via a deterministic "
           "md5 coin BEFORE aggregation — the LOCAL-model DP companion "
           "to the central-model events_dp_noisy_counts; debiased "
           "estimator (obs - p*n)/(1-2p) hash-exact)",
    oracle=f"""
    WITH j AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS truth
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    coined AS (
      SELECT truth,
             CASE WHEN ((strpos('0123456789abcdef',
                     substr(md5('rr' || CAST(user_id AS VARCHAR) || '_'
                            || CAST(day AS VARCHAR)), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef',
                     substr(md5('rr' || CAST(user_id AS VARCHAR) || '_'
                            || CAST(day AS VARCHAR)), 2, 1)) - 1)
                  % {_RR_FLIP_DEN} < {_RR_FLIP_NUM}
                  THEN 1 - truth ELSE truth END AS reported
      FROM j),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(truth) AS BIGINT) AS true_count,
             CAST(SUM(reported) AS BIGINT) AS reported_count
      FROM coined)
    SELECT n, true_count, reported_count,
           ROUND((CAST(reported_count AS DOUBLE)
                  - ({_RR_FLIP_NUM}.0 / {_RR_FLIP_DEN}) * n)
                 / (1.0 - 2.0 * {_RR_FLIP_NUM}.0 / {_RR_FLIP_DEN}), 6)
             AS debiased_estimate
    FROM agg
    """,
)
def events_randomized_response_ldp(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Warner's randomized response — LOCAL differential privacy: each
    user-day flips its sensitive purchase flag with probability 1/4
    before anything aggregates, so the collector never holds a true
    record (epsilon = ln((1-p)/p) = ln 3 per report); the plug-in
    estimator (reported - p*n)/(1-2p) recovers the population count in
    expectation. The md5 coin makes the mechanism reproducible, so the
    whole pipeline — flips, counts, debiasing — hash-checks across
    engines (the bootstrap/negative-sampling determinism discipline
    applied to privacy).

    Scale shape: the flip is a per-row expression inside the first
    aggregate's scan; everything else is one bounded groupBy. The
    central-model twin (events_dp_noisy_counts) perturbs AFTER
    aggregation — together they pin both DP deployment models."""
    ev = tbl(spark, sf_dir, "events")
    j = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
         .agg(F.max((F.col("event_type") == "purchase").cast("int"))
              .alias("truth")))
    coin = (F.conv(F.substring(F.md5(F.concat(
        F.lit("rr"), F.col("user_id").cast("string"), F.lit("_"),
        F.col("day").cast("string"))), 1, 2), 16, 10).cast("int")
        % _RR_FLIP_DEN) < _RR_FLIP_NUM
    coined = j.select(
        "truth",
        F.when(coin, 1 - F.col("truth")).otherwise(F.col("truth"))
        .alias("reported"))
    p = float(_RR_FLIP_NUM) / _RR_FLIP_DEN
    agg = coined.agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum("truth").cast("long").alias("true_count"),
                     F.sum("reported").cast("long")
                     .alias("reported_count"))
    return agg.select(
        "n", "true_count", "reported_count",
        F.round((F.col("reported_count").cast("double")
                 - F.lit(p) * F.col("n")) / (1.0 - 2.0 * p), 6)
        .alias("debiased_estimate"))


# ---------------------------------------------------------------------------
# Hill estimator: heavy-tail index of the value distribution

_HILL_K = 100


@query(
    "events_hill_tail_index",
    survey="insight extension(Hill 1975 tail-index estimator over the "
           "top-k order statistics of event values — the heavy-tail "
           "diagnostic that decides whether means/variances are even "
           "meaningful; exact micro-unit log fold)",
    oracle=f"""
    WITH ranked AS (
      SELECT CAST(value AS DOUBLE) AS v,
             row_number() OVER (ORDER BY value DESC, event_id) AS rk
      FROM events WHERE value > 0),
    kth AS (SELECT v AS vk FROM ranked WHERE rk = {_HILL_K + 1}),
    top AS (
      SELECT SUM(CAST(ROUND(ROUND(ln(ranked.v / kth.vk), 9) * 1000000)
                      AS BIGINT)) AS s_micro
      FROM ranked, kth WHERE rk <= {_HILL_K})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           ROUND(kth.vk, 6) AS threshold_value,
           ROUND(s_micro / 1000000.0 / {_HILL_K}, 6) AS hill_gamma,
           ROUND({_HILL_K}.0 / (s_micro / 1000000.0), 6) AS tail_alpha
    FROM top, kth
    """,
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill's tail-index estimator: gamma = (1/k) * sum ln(x_(i) / x_(k+1))
    over the k largest values — gamma near 0 means light tails, alpha =
    1/gamma < 2 means infinite variance (the diagnostic that should gate
    any mean-based SLO or revenue projection on this column). The log
    ratios round to micro-units and fold exactly; the k+1-st order
    statistic comes from deterministic rank selection.

    Scale shape: rank selection over the value column (distributed
    top-(k+1) is a TakeOrderedAndProject at scale — the window here is
    the fixture-scale proxy, as in the Gini family); the estimator
    itself touches k rows."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    ranked = (ev.select(F.col("value").cast("double").alias("v"),
                        "event_id")
              .withColumn("rk", F.row_number().over(
                  Window.orderBy(F.col("v").desc(), "event_id")))
              .filter(F.col("rk") <= _HILL_K + 1)
              .localCheckpoint(eager=True))
    kth = (ranked.filter(F.col("rk") == _HILL_K + 1)
           .select(F.col("v").alias("vk")))
    top = (ranked.filter(F.col("rk") <= _HILL_K)
           .join(F.broadcast(kth))
           .agg(F.sum(F.round(F.round(F.log(F.col("v") / F.col("vk")), 9)
                              * 1_000_000).cast("long")).alias("s_micro")))
    return (top.join(F.broadcast(kth))
            .select(F.lit(_HILL_K).cast("long").alias("k"),
                    F.round("vk", 6).alias("threshold_value"),
                    F.round(F.col("s_micro") / 1_000_000.0 / _HILL_K, 6)
                    .alias("hill_gamma"),
                    F.round(F.lit(float(_HILL_K))
                            / (F.col("s_micro") / 1_000_000.0), 6)
                    .alias("tail_alpha")))


# ---------------------------------------------------------------------------
# ECE / MCE calibration error (the binned companion to the Brier report)


@query(
    "events_calibration_ece",
    survey="insight extension(expected + maximum calibration error over "
           "the Brier query's train/eval binned forecaster: "
           "ECE = Σ(n_b/N)|obs_b − fc_b|, MCE = max_b — the reliability-"
           "diagram summary every model card quotes, from exact integer "
           "counts)",
    oracle=f"""
    WITH base AS (
      SELECT GREATEST({_WOE_BIN_LO}, LEAST({_WOE_BIN_HI},
               CAST(FLOOR(ROUND(ln(CAST(value AS DOUBLE)) / ln(2.0), 9))
                    AS INTEGER))) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(ts AS DATE) < DATE '{_BRIER_SPLIT}'
                  THEN 1 ELSE 0 END AS is_train
      FROM events WHERE value > 0),
    fc AS (
      SELECT bin, SUM(y) AS ty, COUNT(*) AS tn
      FROM base WHERE is_train = 1 GROUP BY bin),
    ev AS (
      SELECT bin, CAST(SUM(y) AS BIGINT) AS ey,
             CAST(COUNT(*) AS BIGINT) AS en
      FROM base WHERE is_train = 0 GROUP BY bin),
    terms AS (
      SELECT ev.bin, ev.en,
             ABS(CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)
                 - CAST(ev.ey AS DOUBLE) / CAST(ev.en AS DOUBLE)) AS gap
      FROM ev JOIN fc ON fc.bin = ev.bin)
    SELECT CAST(SUM(en) AS BIGINT) AS n_eval,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM(CAST(ROUND(en * gap * 1000000000) AS BIGINT))
                 / 1000000000.0 / SUM(en), 6) AS ece,
           ROUND(MAX(gap), 6) AS mce
    FROM terms
    """,
)
def events_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error of the binned purchase-rate
    forecaster (same train/eval halves and log2 value bins as
    events_brier_decomposition — ECE is the L1 twin of its reliability
    term): per bin, |observed eval rate − train forecast|, weighted by
    eval count for ECE, maxed for MCE.  Per-bin products round to exact
    nano-units before the cross-bin sum (shuffle-order-proof); the gap
    itself is one shared-op-order double expression.  Scale: two
    conditional aggregates onto the bounded bin key from ONE scan —
    everything downstream is ≤16-row arithmetic."""
    ev_t = tbl(spark, sf_dir, "events").filter(F.col("value") > 0)
    bin_col = F.greatest(
        F.lit(_WOE_BIN_LO),
        F.least(F.lit(_WOE_BIN_HI),
                F.floor(F.round(F.log(F.col("value").cast("double"))
                                / F.log(F.lit(2.0)), 9)).cast("int")))
    base = ev_t.select(
        bin_col.alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
        (F.to_date("ts") < F.lit(_BRIER_SPLIT).cast("date")).cast("int")
        .alias("is_train"))
    fc = (base.filter(F.col("is_train") == 1).groupBy("bin")
          .agg(F.sum("y").alias("ty"), F.count(F.lit(1)).alias("tn")))
    evl = (base.filter(F.col("is_train") == 0).groupBy("bin")
           .agg(F.sum("y").cast("long").alias("ey"),
                F.count(F.lit(1)).cast("long").alias("en")))
    gap = F.abs(F.col("ty").cast("double") / F.col("tn").cast("double")
                - F.col("ey").cast("double") / F.col("en").cast("double"))
    terms = evl.join(fc, "bin").select("bin", "en", gap.alias("gap"))
    return terms.agg(
        F.sum("en").cast("long").alias("n_eval"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(F.sum(F.round(F.col("en") * F.col("gap") * 1_000_000_000)
                      .cast("long")) / 1_000_000_000.0 / F.sum("en"), 6)
        .alias("ece"),
        F.round(F.max("gap"), 6).alias("mce"))


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast (the EWMA/Holt family's zero-heavy twin)

_CRO_ALPHA = 0.2
_CRO_PARTS = 50


@query(
    "part_croston_demand_forecast",
    survey="insight extension(Croston 1972 intermittent-demand "
           "forecasting per part: separate EWMAs of demand SIZE and "
           "demand INTERVAL folded over demand events only — the "
           "spare-parts/long-tail forecaster where plain EWMA collapses "
           "between demands; recursive-CTE oracle evaluates the "
           "identical float sequence)",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT l_partkey, CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_partkey < {_CRO_PARTS}
      GROUP BY l_partkey, CAST(o_orderdate AS DATE)),
    ordered AS (
      SELECT l_partkey, q,
             row_number() OVER (PARTITION BY l_partkey ORDER BY d) AS rn,
             CAST(d - LAG(d) OVER (PARTITION BY l_partkey ORDER BY d)
                  AS BIGINT) AS gap
      FROM daily),
    state AS (
      SELECT l_partkey, rn, CAST(q AS DOUBLE) AS z, CAST(1 AS DOUBLE) AS p
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.l_partkey, o.rn,
             {_CRO_ALPHA} * o.q + 0.8 * s.z AS z,
             {_CRO_ALPHA} * o.gap + 0.8 * s.p AS p
      FROM state s JOIN ordered o
        ON o.l_partkey = s.l_partkey AND o.rn = s.rn + 1),
    final AS (
      SELECT l_partkey, rn, z, p,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY rn DESC) AS rr
      FROM state)
    SELECT l_partkey, CAST(rn AS BIGINT) AS n_demands,
           ROUND(z, 6) AS size_level,
           ROUND(p, 6) AS interval_level,
           ROUND(z / p, 6) AS demand_per_day
    FROM final WHERE rr = 1 ORDER BY l_partkey
    """,
)
def part_croston_demand_forecast(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per part: a part sells on
    scattered days, so the method smooths demand SIZE and demand
    INTERVAL separately over demand events only (z' = αq + (1−α)z,
    p' = α·gap + (1−α)p, seeded z₀ = q₀, p₀ = 1) and forecasts z/p
    units per day — the supply-chain standard where plain EWMA over the
    calendar (zeros included) decays to nothing between sales.  The
    fold runs as a grouped-map applyInPandas (one shuffle on part, O(1)
    state) and the oracle's recursive CTE evaluates the identical IEEE
    sequence — rounded only at the end, the ewma/holt discipline.
    Scale: the daily-demand aggregate is the corpus stage; the fold's
    state is two doubles per part."""
    from server2_vector_search_server_spark.operators.temporal import (
        croston_by_key,
    )

    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < _CRO_PARTS)
    od = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    daily = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
             .groupBy("l_partkey", F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.col("l_quantity").cast("long")).alias("q")))
    w = Window.partitionBy("l_partkey").orderBy("d")
    ordered = daily.select(
        "l_partkey", "q", "d",
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("long")
        .alias("gap"))
    out = croston_by_key(ordered, key_col="l_partkey", order_col="d",
                         qty_col="q", gap_col="gap", alpha=_CRO_ALPHA)
    return (out.select(
        "l_partkey", "n_demands",
        F.round("size_level", 6).alias("size_level"),
        F.round("interval_level", 6).alias("interval_level"),
        F.round(F.col("size_level") / F.col("interval_level"), 6)
        .alias("demand_per_day"))
        .orderBy("l_partkey"))


# ---------------------------------------------------------------------------
# Leave-one-out hit-rate@K for the item-item recommender

_HR_MIN_ITEMS, _HR_MAX_ITEMS = 3, 20
_HR_CATALOG = 50           # bounded catalog slice: dense co-purchase
_HR_NEIGHBORS = 20
_HR_K = 10


@query(
    "recommend_eval_hitrate",
    survey="recommendation extension(leave-one-out hit-rate@10 of the "
           "item-item cosine recommender: hold out one item per "
           "customer, train similarities on the rest, score candidates "
           "by exact nano-int similarity sums — the offline eval number "
           "a recsys team tracks)",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_partkey < 50),
    sized AS (
      SELECT cust, COUNT(*) AS n_tot, MAX(part) AS held_part
      FROM items GROUP BY cust
      HAVING COUNT(*) BETWEEN {_HR_MIN_ITEMS} AND {_HR_MAX_ITEMS}),
    train AS (
      SELECT i.cust, i.part
      FROM items i JOIN sized s ON s.cust = i.cust
      WHERE i.part <> s.held_part),
    pcount AS (SELECT part, COUNT(*) AS n FROM train GROUP BY part),
    baskets AS (
      SELECT cust, list_sort(list_distinct(list(part))) AS parts
      FROM train GROUP BY cust),
    upairs AS (
      SELECT parts[i + 1] AS p1, parts[j + 1] AS p2
      FROM baskets,
           UNNEST(range(0, len(parts) - 1)) AS ui(i),
           UNNEST(range(0, len(parts))) AS uj(j)
      WHERE j > i),
    cooc AS (SELECT p1, p2, COUNT(*) AS n_both FROM upairs GROUP BY p1, p2),
    sim AS (
      SELECT p1, p2, CAST(ROUND(CAST(n_both AS DOUBLE)
               / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))
               * 1000000000) AS BIGINT) AS sim_nano
      FROM cooc JOIN pcount a ON a.part = p1 JOIN pcount b ON b.part = p2
      UNION ALL
      SELECT p2 AS p1, p1 AS p2, CAST(ROUND(CAST(n_both AS DOUBLE)
               / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))
               * 1000000000) AS BIGINT) AS sim_nano
      FROM cooc JOIN pcount a ON a.part = p1 JOIN pcount b ON b.part = p2),
    nbrs AS (
      SELECT p1, p2, sim_nano FROM (
        SELECT p1, p2, sim_nano,
               ROW_NUMBER() OVER (PARTITION BY p1
                   ORDER BY sim_nano DESC, p2 ASC) AS rk
        FROM sim) WHERE rk <= {_HR_NEIGHBORS}),
    cands AS (
      SELECT t.cust, n.p2 AS cand, CAST(SUM(n.sim_nano) AS BIGINT) AS score
      FROM train t JOIN nbrs n ON n.p1 = t.part
      WHERE NOT EXISTS (SELECT 1 FROM train t2
                        WHERE t2.cust = t.cust AND t2.part = n.p2)
      GROUP BY t.cust, n.p2),
    topk AS (
      SELECT cust, cand FROM (
        SELECT cust, cand,
               ROW_NUMBER() OVER (PARTITION BY cust
                   ORDER BY score DESC, cand ASC) AS rk
        FROM cands) WHERE rk <= {_HR_K}),
    hits AS (
      SELECT s.cust
      FROM sized s JOIN topk k ON k.cust = s.cust AND k.cand = s.held_part)
    SELECT CAST((SELECT COUNT(*) FROM sized) AS BIGINT) AS n_users,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / (SELECT COUNT(*) FROM sized), 6) AS hit_rate
    """,
)
def recommend_eval_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline leave-one-out evaluation of the co-purchase recommender:
    hold out each eligible customer's max-partkey item (deterministic —
    the fixture has no per-item timestamps to define 'last'), fit the
    item-item cosine on the remaining baskets, recommend top-10
    candidates (summed neighbor similarity, items already owned
    excluded), and report the fraction of customers whose held-out item
    was recovered.  Similarities round to exact nano-int BEFORE the
    candidate-score SUM — a raw double sum over shuffle order would
    hash-differ run to run.  All ranks tie-break (score DESC, item ASC).
    Scale: same density-capped in-array pair kernel as the recommender;
    the neighbor table is catalog-bounded (≤20/item) and the candidate
    fan-out is baskets × neighbor-cap — never catalog × catalog."""
    li = (tbl(spark, sf_dir, "lineitem")
          .filter(F.col("l_partkey") < _HR_CATALOG)
          .select("l_orderkey", "l_partkey"))
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    items = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select(F.col("o_custkey").alias("cust"),
                     F.col("l_partkey").alias("part"))
             .distinct())
    sized = (items.groupBy("cust")
             .agg(F.count(F.lit(1)).alias("n_tot"),
                  F.max("part").alias("held_part"))
             .filter(F.col("n_tot").between(_HR_MIN_ITEMS, _HR_MAX_ITEMS)))
    train = (items.join(sized, "cust")
             .filter(F.col("part") != F.col("held_part"))
             .select("cust", "part")
             .localCheckpoint(eager=False))
    pcount = train.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    baskets = (train.groupBy("cust")
               .agg(F.sort_array(F.collect_set("part")).alias("parts")))
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(parts) - 2), i -> "
        "transform(sequence(i + 1, size(parts) - 1), j -> "
        "struct(parts[i] AS p1, parts[j] AS p2))))")
    upairs = (baskets.select(F.explode(pair_expr).alias("pr"))
              .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2")))
    cooc = upairs.groupBy("p1", "p2").agg(F.count(F.lit(1)).alias("n_both"))
    pa = pcount.withColumnRenamed("part", "p1").withColumnRenamed("n", "na")
    pb = pcount.withColumnRenamed("part", "p2").withColumnRenamed("n", "nb")
    sim_nano = (F.round(F.col("n_both").cast("double")
                        / F.sqrt(F.col("na").cast("double")
                                 * F.col("nb").cast("double"))
                        * 1_000_000_000).cast("long"))
    one_dir = (cooc.join(pa, "p1").join(pb, "p2")
               .select("p1", "p2", sim_nano.alias("sim_nano")))
    sim = one_dir.unionByName(
        one_dir.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"),
                       "sim_nano"))
    w_nbr = Window.partitionBy("p1").orderBy(F.col("sim_nano").desc(),
                                             F.col("p2").asc())
    nbrs = (sim.withColumn("rk", F.row_number().over(w_nbr))
            .filter(F.col("rk") <= _HR_NEIGHBORS).drop("rk"))
    owned = train.select("cust", F.col("part").alias("p2"))
    cands = (train.withColumnRenamed("part", "p1").join(nbrs, "p1")
             .select("cust", "p2", "sim_nano")
             .join(owned, ["cust", "p2"], "left_anti")
             .groupBy("cust", "p2")
             .agg(F.sum("sim_nano").cast("long").alias("score")))
    w_topk = Window.partitionBy("cust").orderBy(F.col("score").desc(),
                                                F.col("p2").asc())
    topk = (cands.withColumn("rk", F.row_number().over(w_topk))
            .filter(F.col("rk") <= _HR_K))
    hits = topk.join(sized, (topk.cust == sized.cust)
                     & (topk.p2 == sized.held_part)).select(topk.cust)
    n_users = sized.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    return (hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(F.lit(n_users).cast("long").alias("n_users"),
                    "n_hits",
                    F.round(F.col("n_hits").cast("double") / n_users, 6)
                    .alias("hit_rate"))
            .select("n_users", "n_hits", "hit_rate"))
