"""Round-6 surface: data-quality expectations, seasonal decomposition,
harmonic/betweenness centrality, BLEU-lite n-gram evaluation,
shingle-containment near-dup detection, ALS factorization invariants,
l-diversity, Poisson rate testing, two-phase exact percentiles, matrix
profile motifs, and Cohen's kappa agreement.

Each query follows the registry parity rules (identical op order + aliases
on both engines, exact scaled-integer sums for anything float-accumulated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.plans.registry import (
    query, tbl,
)

# ---------------------------------------------------------------------------
# Data-quality expectation suite (the dbt-tests / Great Expectations shape)

_EXP_LANGS = ("de", "en", "es", "fr", "zh")


@query(
    "documents_expectation_checks",
    survey="north-star pipeline QA (declarative data-quality expectation "
           "suite over the corpus: null/uniqueness/accepted-values/"
           "consistency/bounds checks folded in ONE scan, one verdict row "
           "per expectation — the dbt-tests / Great Expectations contract "
           "a training pipeline gates ingests on)",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_ids,
             COUNT(DISTINCT doc_id) AS dist_ids,
             SUM(CASE WHEN lang NOT IN {_EXP_LANGS!r} THEN 1 ELSE 0 END)
               AS bad_lang,
             SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
               AS len_mismatch,
             MIN(n_chars) AS min_chars,
             SUM(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END)
               AS bad_src
      FROM documents)
    SELECT * FROM (
      SELECT 'doc_id_not_null' AS expectation,
             CAST(null_ids AS BIGINT) AS observed,
             null_ids = 0 AS passed FROM m
      UNION ALL SELECT 'doc_id_unique', CAST(n - dist_ids AS BIGINT),
             dist_ids = n FROM m
      UNION ALL SELECT 'lang_in_accepted_set', CAST(bad_lang AS BIGINT),
             bad_lang = 0 FROM m
      UNION ALL SELECT 'n_chars_equals_length',
             CAST(len_mismatch AS BIGINT), len_mismatch = 0 FROM m
      UNION ALL SELECT 'n_chars_positive', CAST(min_chars AS BIGINT),
             min_chars > 0 FROM m
      UNION ALL SELECT 'source_not_blank', CAST(bad_src AS BIGINT),
             bad_src = 0 FROM m)
    ORDER BY expectation
    """,
)
def documents_expectation_checks(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Declarative expectation suite over ``documents``: every check is a
    conditional aggregate folded into ONE corpus scan (never one scan per
    expectation — at 100 TB the suite costs exactly what a count(*)
    costs), then unpivoted to one verdict row per expectation via an
    explode of a literal struct array. The observed column carries the
    violation count (or boundary value) so a red row is diagnosable
    without a re-scan; ``passed`` is the gate a pipeline branches on.
    Reference analog: the upload-path validation in
    document_processor.py:114-117 (extension/emptiness checks) widened to
    the corpus-level QA a lakehouse ingest runs."""
    docs = tbl(spark, sf_dir, "documents")
    m = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .alias("null_ids"),
        F.count_distinct("doc_id").alias("dist_ids"),
        F.sum(F.when(~F.col("lang").isin(*_EXP_LANGS), 1).otherwise(0))
        .alias("bad_lang"),
        F.sum(F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0))
        .alias("len_mismatch"),
        F.min("n_chars").alias("min_chars"),
        F.sum(F.when(F.col("source").isNull()
                     | (F.col("source") == ""), 1).otherwise(0))
        .alias("bad_src"))
    checks = F.array(
        F.struct(F.lit("doc_id_not_null").alias("expectation"),
                 F.col("null_ids").cast("long").alias("observed"),
                 (F.col("null_ids") == 0).alias("passed")),
        F.struct(F.lit("doc_id_unique").alias("expectation"),
                 (F.col("n") - F.col("dist_ids")).cast("long")
                 .alias("observed"),
                 (F.col("dist_ids") == F.col("n")).alias("passed")),
        F.struct(F.lit("lang_in_accepted_set").alias("expectation"),
                 F.col("bad_lang").cast("long").alias("observed"),
                 (F.col("bad_lang") == 0).alias("passed")),
        F.struct(F.lit("n_chars_equals_length").alias("expectation"),
                 F.col("len_mismatch").cast("long").alias("observed"),
                 (F.col("len_mismatch") == 0).alias("passed")),
        F.struct(F.lit("n_chars_positive").alias("expectation"),
                 F.col("min_chars").cast("long").alias("observed"),
                 (F.col("min_chars") > 0).alias("passed")),
        F.struct(F.lit("source_not_blank").alias("expectation"),
                 F.col("bad_src").cast("long").alias("observed"),
                 (F.col("bad_src") == 0).alias("passed")))
    return (m.select(F.explode(checks).alias("c"))
            .select("c.expectation", "c.observed", "c.passed")
            .orderBy("expectation"))


# ---------------------------------------------------------------------------
# Classical seasonal decomposition of the per-type hourly series

_SD_N = 720                     # 30 days x 24 h spine, Jan 2024
_SD_ORIGIN = "2024-01-01 00:00:00"
_SD_HALF = 12                   # centered 25-point moving-average trend


def _seasonal_from_counts(spark: SparkSession, raw: DataFrame,
                          types: DataFrame) -> DataFrame:
    """Decompose core shared by the batch query and the streaming-IVM
    variant: gap-fill (type x 720h spine), full-window centered MA trend,
    exact micro-unit hour-of-day seasonal fold."""
    from pyspark.sql import Window

    spine = (types.crossJoin(
        spark.range(_SD_N).select(F.col("id").alias("t"))))
    c = (spine.join(raw, ["event_type", "t"], "left")
         .select("event_type", "t",
                 F.coalesce("n", F.lit(0)).cast("long").alias("n")))
    win = (Window.partitionBy("event_type").orderBy("t")
           .rowsBetween(-_SD_HALF, _SD_HALF))
    full = 2 * _SD_HALF + 1
    tr = c.select(
        "event_type", "t", "n",
        F.sum("n").over(win).alias("s25"),
        F.count(F.lit(1)).over(win).alias("c25"))
    d = (tr.filter(F.col("c25") == full)
         .select("event_type", (F.col("t") % 24).alias("hod"),
                 F.round((F.col("n") - F.col("s25") / float(full))
                         * 1000000).cast("long").alias("dm")))
    return (d.groupBy("event_type", F.col("hod").cast("long").alias("hod"))
            .agg(F.round(F.sum("dm").cast("double")
                         / (1000000.0 * F.count(F.lit(1))), 6)
                 .alias("seasonal"),
                 F.count(F.lit(1)).cast("long").alias("n_hours"))
            .orderBy("event_type", "hod"))



@query(
    "events_seasonal_decompose",
    survey="temporal extension(classical additive seasonal decomposition "
           "of the per-type hourly series: centered moving-average trend, "
           "per-hour-of-day seasonal indices from the detrended residual "
           "— the decompose step upstream of anomaly thresholds; exact "
           "integer micro-unit folds, full-window-only trend)",
    oracle=f"""
    WITH types AS (SELECT DISTINCT event_type FROM events),
    spine AS (
      SELECT ty.event_type, s.t
      FROM types ty, (SELECT unnest(range(0, {_SD_N})) AS t) s),
    raw AS (
      SELECT event_type,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600.0) AS BIGINT)
             - CAST(FLOOR(epoch(TIMESTAMP '{_SD_ORIGIN}') / 3600.0)
                    AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT s.event_type, s.t, COALESCE(r.n, 0) AS n
      FROM spine s LEFT JOIN raw r
        ON r.event_type = s.event_type AND r.t = s.t),
    tr AS (
      SELECT event_type, t, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY t
                          ROWS BETWEEN {_SD_HALF} PRECEDING
                          AND {_SD_HALF} FOLLOWING) AS s25,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY t
                            ROWS BETWEEN {_SD_HALF} PRECEDING
                            AND {_SD_HALF} FOLLOWING) AS c25
      FROM c),
    d AS (
      SELECT event_type, t % 24 AS hod,
             CAST(ROUND((n - s25 / {2 * _SD_HALF + 1}.0) * 1000000)
                  AS BIGINT) AS dm
      FROM tr WHERE c25 = {2 * _SD_HALF + 1})
    SELECT event_type, CAST(hod AS BIGINT) AS hod,
           ROUND(CAST(SUM(dm) AS DOUBLE) / (1000000.0 * COUNT(*)), 6)
             AS seasonal,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM d GROUP BY 1, 2 ORDER BY event_type, hod
    """,
)
def events_seasonal_decompose(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Classical additive decomposition (Cleveland's decompose, public
    method — the moving-average form, not loess-STL): trend = centered
    25-hour moving average (FULL windows only — partial edge windows bias
    the trend and are excluded on both engines by the window row count),
    seasonal index per hour-of-day = mean of the detrended series.

    Determinism: the detrended value (n − s25/25)·10⁶ = (25n − s25)·40000
    is an EXACT integer (denominator 25 divides the scale), so the
    per-hod fold is a pure BIGINT sum; the final division of two exact
    integers is IEEE-identical on both engines. Shape at 100 TB: one scan
    groups onto the bounded (type × 720-hour) spine; the window and the
    hod fold run per event type — the partition key — so no global-order
    single-reducer window ever exists."""
    ev = tbl(spark, sf_dir, "events")
    origin_h = F.floor(
        F.unix_timestamp(F.lit(_SD_ORIGIN).cast("timestamp")) / 3600.0)
    raw = (ev.select(
               "event_type",
               (F.floor(F.unix_timestamp("ts") / 3600.0) - origin_h)
               .cast("long").alias("t"))
           .groupBy("event_type", "t")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    types = ev.select("event_type").distinct()
    return _seasonal_from_counts(spark, raw, types)


# ---------------------------------------------------------------------------
# Harmonic centrality over the deterministic parts graph

_HC_HOPS = 6
_HC_EDGES_SQL = """
        SELECT p_partkey AS src, (p_partkey * 7 + 13) % 200 AS dst
        FROM part WHERE p_partkey < 200
        UNION ALL
        SELECT p_partkey AS src, (p_partkey * 3 + 41) % 200 AS dst
        FROM part WHERE p_partkey < 200
"""


@query(
    "graph_harmonic_centrality",
    survey="north-star graph analytics (harmonic centrality, hop-bounded: "
           "multi-source BFS keeps first-discovery = min-hop distances, "
           "H(v) = sum of 1/d as exact micro-unit integers vs the "
           "recursive-CTE path-enumeration oracle)",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM ({_HC_EDGES_SQL}) GROUP BY src, dst),
    nodes AS (
      SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
    walk(s, node, hop) AS (
      SELECT v AS s, v AS node, 0 AS hop FROM nodes
      UNION ALL
      SELECT w.s, e.dst AS node, w.hop + 1 AS hop
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < {_HC_HOPS}),
    dmin AS (
      SELECT s, node, MIN(hop) AS d FROM walk GROUP BY s, node)
    SELECT node,
           CAST(SUM(CAST(ROUND(1000000.0 / d) AS BIGINT)) AS BIGINT)
             AS harmonic_micro,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM dmin WHERE d > 0
    GROUP BY node ORDER BY node
    """,
)
def graph_harmonic_centrality(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """``operators/graph.harmonic_centrality`` over the deterministic
    two-successor parts graph, all nodes as BFS sources, 6 hops. The
    frontier/anti-join BFS labels each (source, node) pair at its FIRST
    discovery — by construction the minimal hop count — which is exactly
    the MIN the oracle takes over all enumerated ≤6-hop paths, so the two
    formulations certify each other (same invariant as
    graph_shortest_paths, distance flavor). 1/d contributions are
    micro-unit BIGINTs; sums never touch floats."""
    from server2_vector_search_server_spark.operators.graph import (
        harmonic_centrality,
    )

    part = tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    e1 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 7 + 13) % 200).alias("dst"))
    e2 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 3 + 41) % 200).alias("dst"))
    edges = e1.unionByName(e2)
    nodes = (edges.select(F.col("src").alias("v"))
             .union(edges.select(F.col("dst").alias("v"))).distinct())
    return (harmonic_centrality(edges, nodes, max_hops=_HC_HOPS)
            .orderBy("node"))


# ---------------------------------------------------------------------------
# BLEU-lite n-gram overlap evaluation between document pairs

_BLEU_N = 50                    # pairs: candidate doc i vs reference i+50
_SQL_LTOKS = ("list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
              "t -> t != '')")


@query(
    "text_bleu_ngram_eval",
    survey="north-star training-data evaluation (corpus-scale BLEU-lite: "
           "clipped modified 1/2-gram precision + rational brevity "
           "penalty per candidate/reference pair — the n-gram-overlap "
           "eval loop for generated-vs-reference text, distributed as "
           "two gram-count joins)",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_LTOKS} AS toks
      FROM documents WHERE doc_id < {2 * _BLEU_N}),
    uni AS (
      SELECT doc_id, u.term, CAST(COUNT(*) AS BIGINT) AS c
      FROM d, UNNEST(toks) AS u(term) GROUP BY 1, 2),
    big AS (
      SELECT doc_id, u.term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   CASE WHEN len(toks) >= 2 THEN
                     list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END AS bg
            FROM d), UNNEST(bg) AS u(term)
      GROUP BY 1, 2),
    lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM d),
    pairs AS (
      SELECT c.doc_id AS cand_id, c.doc_id + {_BLEU_N} AS ref_id
      FROM d c WHERE c.doc_id < {_BLEU_N}),
    m1 AS (
      SELECT p.cand_id, SUM(LEAST(cu.c, ru.c)) AS m
      FROM pairs p
      JOIN uni cu ON cu.doc_id = p.cand_id
      JOIN uni ru ON ru.doc_id = p.ref_id AND ru.term = cu.term
      GROUP BY 1),
    m2 AS (
      SELECT p.cand_id, SUM(LEAST(cb.c, rb.c)) AS m
      FROM pairs p
      JOIN big cb ON cb.doc_id = p.cand_id
      JOIN big rb ON rb.doc_id = p.ref_id AND rb.term = cb.term
      GROUP BY 1)
    SELECT p.cand_id, p.ref_id,
           cl.n AS c_len, rl.n AS r_len,
           CAST(COALESCE(m1.m, 0) AS BIGINT) AS m1,
           CAST(COALESCE(m2.m, 0) AS BIGINT) AS m2,
           ROUND(CAST(COALESCE(m1.m, 0) AS DOUBLE)
                 / CAST(cl.n AS DOUBLE), 6) AS p1,
           ROUND(CAST(COALESCE(m2.m, 0) AS DOUBLE)
                 / CAST(cl.n - 1 AS DOUBLE), 6) AS p2,
           ROUND(LEAST(1.0, CAST(cl.n AS DOUBLE) / CAST(rl.n AS DOUBLE))
                 * SQRT((CAST(COALESCE(m1.m, 0) AS DOUBLE)
                         / CAST(cl.n AS DOUBLE))
                        * (CAST(COALESCE(m2.m, 0) AS DOUBLE)
                           / CAST(cl.n - 1 AS DOUBLE))), 6) AS bleu2
    FROM pairs p
    JOIN lens cl ON cl.doc_id = p.cand_id
    JOIN lens rl ON rl.doc_id = p.ref_id
    LEFT JOIN m1 ON m1.cand_id = p.cand_id
    LEFT JOIN m2 ON m2.cand_id = p.cand_id
    ORDER BY p.cand_id
    """,
)
def text_bleu_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-lite (Papineni et al. 2002, public metric) between candidate
    docs 0..49 and reference docs 50..99: clipped modified n-gram
    precision p_n = Σ min(count_cand, count_ref) / Σ count_cand for
    n = 1, 2, combined as BP·√(p1·p2) with the RATIONAL brevity penalty
    min(1, c/r) — the exp(1 − r/c) form is documented out because exp is
    not guaranteed correctly-rounded across engines while LEAST, division
    and sqrt are. Integer match counts are carried in the output so the
    float columns are auditable.

    Scale shape: gram counts are (doc, gram) aggregates — one explode +
    one partial-agg shuffle each; the clip join is per-pair × shared-gram
    (an equi-join on gram within the pair), never a corpus cross join. At
    100 TB candidate/reference pairing is an equi-key (sample id), and
    everything here is already keyed on it."""
    docs = (tbl(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 2 * _BLEU_N)
            .select("doc_id",
                    F.filter(F.split(F.trim(F.lower(F.col("text"))),
                                     r"\s+"),
                             lambda t: t != "").alias("toks"))
            .localCheckpoint(eager=True))
    uni = (docs.select("doc_id", F.explode("toks").alias("term"))
           .groupBy("doc_id", "term")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    big = (docs.select(
               "doc_id",
               F.when(F.size("toks") >= 2,
                      F.expr("transform(sequence(1, size(toks) - 1), "
                             "i -> concat(toks[i-1], ' ', toks[i]))"))
               .otherwise(F.array()).alias("bg"))
           .select("doc_id", F.explode("bg").alias("term"))
           .groupBy("doc_id", "term")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    lens = docs.select("doc_id", F.size("toks").cast("long").alias("n"))
    pairs = (docs.filter(F.col("doc_id") < _BLEU_N)
             .select(F.col("doc_id").alias("cand_id"),
                     (F.col("doc_id") + _BLEU_N).alias("ref_id")))

    def _matched(grams: DataFrame) -> DataFrame:
        cu = grams.select(F.col("doc_id").alias("cand_id"), "term",
                          F.col("c").alias("cc"))
        ru = grams.select(F.col("doc_id").alias("ref_id"), "term",
                          F.col("c").alias("rc"))
        return (pairs.join(cu, "cand_id")
                .join(ru, ["ref_id", "term"])
                .groupBy("cand_id")
                .agg(F.sum(F.least("cc", "rc")).alias("m")))

    m1 = _matched(uni).withColumnRenamed("m", "m1r")
    m2 = _matched(big).withColumnRenamed("m", "m2r")
    cl = lens.select(F.col("doc_id").alias("cand_id"),
                     F.col("n").alias("c_len"))
    rl = lens.select(F.col("doc_id").alias("ref_id"),
                     F.col("n").alias("r_len"))
    out = (pairs.join(cl, "cand_id").join(rl, "ref_id")
           .join(m1, "cand_id", "left").join(m2, "cand_id", "left")
           .select("cand_id", "ref_id", "c_len", "r_len",
                   F.coalesce("m1r", F.lit(0)).cast("long").alias("m1"),
                   F.coalesce("m2r", F.lit(0)).cast("long").alias("m2")))
    p1 = F.col("m1").cast("double") / F.col("c_len").cast("double")
    p2 = (F.col("m2").cast("double")
          / (F.col("c_len") - 1).cast("double"))
    bp = F.least(F.lit(1.0),
                 F.col("c_len").cast("double")
                 / F.col("r_len").cast("double"))
    return (out.select(
                "cand_id", "ref_id", "c_len", "r_len", "m1", "m2",
                F.round(p1, 6).alias("p1"), F.round(p2, 6).alias("p2"),
                F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"))
            .orderBy("cand_id"))


# ---------------------------------------------------------------------------
# Asymmetric shingle containment — "document A is (nearly) inside B"

_CT_N = 200                 # doc slice
_CT_GRAM = 8                # char shingle width
_CT_DF_CAP = 10             # rare-shingle cap for candidate generation
_CT_MIN_SHARED = 3          # min shared rare shingles to become a candidate
_CT_THRESHOLD = 0.9


@query(
    "dedup_shingle_containment",
    survey="C4-extension(asymmetric near-containment detection: "
           "containment C(A,B)=|S(A)∩S(B)|/|S(A)| over distinct char "
           "8-gram shingles — catches quotes/supersets Jaccard dilutes; "
           "rare-shingle inverted-index candidates, exact containment "
           "verified per candidate pair)",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE doc_id < {_CT_N}),
    sh AS (
      SELECT DISTINCT doc_id,
             substr(t, CAST(i AS INTEGER), {_CT_GRAM}) AS g
      FROM d, UNNEST(range(1, length(t) - {_CT_GRAM - 2})) AS u(i)),
    df AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g),
    rare AS (
      SELECT s.doc_id, s.g FROM sh s JOIN df ON df.g = s.g
      WHERE df.df <= {_CT_DF_CAP}),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_CT_MIN_SHARED}),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.g = a.g
      GROUP BY 1, 2)
    SELECT s.doc_a, s.doc_b, s.n_shared, za.n AS n_a,
           ROUND(CAST(s.n_shared AS DOUBLE) / CAST(za.n AS DOUBLE), 6)
             AS containment
    FROM shared s JOIN sz za ON za.doc_id = s.doc_a
    WHERE CAST(s.n_shared AS DOUBLE) / CAST(za.n AS DOUBLE)
          >= {_CT_THRESHOLD}
    ORDER BY s.doc_a, s.doc_b
    """,
)
def dedup_shingle_containment(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT detection (Broder 1997's containment coefficient,
    public): C(A,B) = |S(A)∩S(B)| / |S(A)| over distinct character
    8-gram shingles — asymmetric, so a short document quoted inside a
    long one scores ~1.0 in the A→B direction while symmetric Jaccard
    (``dedup_ngram_jaccard``) dilutes it by the union size. The missing
    case in a Jaccard-only dedup stack: boilerplate-wrapped reposts,
    quote farms, chunk-of-larger-doc training leaks.

    Two-stage exactness: candidates come from RARE shingles only
    (df ≤ {_CT_DF_CAP}, ≥ {_CT_MIN_SHARED} shared — an inverted-index
    equi-join whose shuffle is Σ df² over CAPPED df, never corpus²), then
    the containment numerator is recomputed EXACTLY over the full shingle
    sets for just those candidate pairs. The df cap is a candidate-recall
    knob, not a correctness approximation, and the oracle replicates it
    verbatim. At 100 TB the same two stages hold: band the rare-shingle
    join, keep the verify join pair-bounded."""
    # NOT spread: A/B'd r10 (OPTIMIZATION_r10.md, text_contamination_overlap,
    # "Deliberately NOT spread") — the candidate/verify
    # joins below the checkpoint dominate this pillar, not the shingling
    # map; spreading the 200-doc slice was +16%
    d = (tbl(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _CT_N)
         .select("doc_id", F.lower(F.col("text")).alias("t")))
    sh = (d.select(
              "doc_id",
              F.when(F.length("t") >= _CT_GRAM,
                     F.expr(f"transform(sequence(1, length(t) - "
                            f"{_CT_GRAM - 1}), "
                            f"i -> substring(t, i, {_CT_GRAM}))"))
              .otherwise(F.array()).alias("gs"))
          .select("doc_id", F.explode("gs").alias("g"))
          .distinct()
          .localCheckpoint(eager=True))
    # r11 stage fusion: per-shingle df as a WINDOW over g — one exchange
    # produces the filtered rare set directly, where the old aggregate +
    # join-back form paid the agg's partial/final exchange AND re-exchanged
    # sh onto g for the join. Window groups are df-sized (bounded by the
    # corpus; the filter keeps only df <= cap anyway), and the window's
    # hash(g) output partitioning feeds the rare self-join on g with NO
    # further exchange on either side. Same df per row, same rare set.
    from pyspark.sql import Window

    rare = (sh.withColumn("df", F.count(F.lit(1))
                          .over(Window.partitionBy("g")))
            .filter(F.col("df") <= _CT_DF_CAP)
            .select("doc_id", "g"))
    ra = rare.select(F.col("doc_id").alias("doc_a"), "g")
    rb = rare.select(F.col("doc_id").alias("doc_b"), "g")
    cand = (ra.join(rb, "g")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_rare_shared"))
            .filter(F.col("n_rare_shared") >= _CT_MIN_SHARED)
            .select("doc_a", "doc_b"))
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "g")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "g")
    shared = (cand.join(sa, "doc_a").join(sb, ["doc_b", "g"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cont = (F.col("n_shared").cast("double")
            / F.col("n_a").cast("double"))
    return (shared.join(za, "doc_a")
            .filter(cont >= _CT_THRESHOLD)
            .select("doc_a", "doc_b", "n_shared", "n_a",
                    F.round(cont, 6).alias("containment"))
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# ALS matrix factorization — collaborative filtering invariants

_ALS_RANK = 8
_ALS_ITERS = 5
_ALS_SEED = 7


@query(
    "recommend_als_factors",
    survey="beyond-reference recommendation (MLlib ALS low-rank "
           "factorization of the customer x part purchase matrix, pinned "
           "by hash-checked invariants: factor dimensionality, training "
           "RMSE strictly beats the global-mean predictor, full top-5 "
           "recommendation coverage — the learned-embedding sibling of "
           "recommend_item_item_cosine)",
    oracle="""
    SELECT TRUE AS factor_dims_ok, TRUE AS beats_global_mean,
           TRUE AS rec_coverage_ok, CAST(5 AS BIGINT) AS recs_per_user
    """,
)
def recommend_als_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS (Koren et al. 2009; MLlib's blocked implementation) on the
    (customer, part, quantity) ratings matrix from lineitem x orders.
    The factorization is seeded but k-means-like in its nondeterminism
    across Spark builds, so the checked contract is the invariant set
    (same pattern as ann_ivf_kmeans_knn): factors are exactly rank-8;
    training RMSE strictly improves on the best CONSTANT predictor (the
    global mean — the SSE-minimizing baseline ALS must beat for the
    factorization to mean anything); recommendForAllUsers(5) covers
    every training user with exactly 5 items. Scale: ALS itself is the
    distributed block algorithm (user/item blocks exchange factor
    messages), and the RMSE fold is one exact pass over predictions."""
    from pyspark.ml.recommendation import ALS

    li = tbl(spark, sf_dir, "lineitem")
    od = tbl(spark, sf_dir, "orders")
    ratings = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
               .groupBy((od["o_custkey"] % 200).cast("int").alias("user"),
                        (li["l_partkey"] % 100).cast("int").alias("item"))
               .agg(F.sum("l_quantity").cast("float").alias("rating"))
               .localCheckpoint(eager=True))
    als = ALS(rank=_ALS_RANK, maxIter=_ALS_ITERS, seed=_ALS_SEED,
              userCol="user", itemCol="item", ratingCol="rating",
              coldStartStrategy="drop", nonnegative=False)
    model = als.fit(ratings)
    dims_ok = (
        model.userFactors.filter(F.size("features") != _ALS_RANK).count()
        == 0
        and model.itemFactors.filter(
            F.size("features") != _ALS_RANK).count() == 0)
    pred = model.transform(ratings)
    global_mean = float(ratings.agg(F.avg("rating").alias("m")).first()["m"])
    sse = (pred.agg(
        F.sum(F.pow(F.col("rating") - F.col("prediction"), 2))
        .alias("sse"),
        F.sum(F.pow(F.col("rating") - F.lit(global_mean), 2))
        .alias("sse_mean"))
           .first())
    n_users = ratings.select("user").distinct().count()
    recs = model.recommendForAllUsers(5)
    rec_cov = (recs.count() == n_users
               and recs.filter(F.size("recommendations") != 5).count() == 0)
    return spark.createDataFrame(
        [(bool(dims_ok), bool(sse["sse"] < sse["sse_mean"]),
          bool(rec_cov), 5)],
        "factor_dims_ok boolean, beats_global_mean boolean, "
        "rec_coverage_ok boolean, recs_per_user long")


# ---------------------------------------------------------------------------
# Brandes betweenness centrality, hop-bounded, level-unrolled oracle

_BC_HOPS = 6
_BC_EDGES_SQL = _HC_EDGES_SQL    # same deterministic two-successor graph


def _betweenness_oracle() -> str:
    """Level-unrolled Brandes: forward BFS levels l0..lH carrying exact
    path counts sigma, backward dependency tables dH..d0 carrying micro-
    unit deltas with the identical per-level rounding the operator
    applies. AS MATERIALIZED on every level (DuckDB inlines CTEs by
    default and the unrolled recursion re-expands — ROUND_NOTES)."""
    h_max = _BC_HOPS
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM ({_BC_EDGES_SQL}) "
        "GROUP BY src, dst)",
        "nodes AS MATERIALIZED "
        "(SELECT src AS v FROM e UNION SELECT dst AS v FROM e)",
        "l0 AS MATERIALIZED (SELECT v AS s, v AS node, "
        "CAST(1 AS BIGINT) AS sigma FROM nodes)",
    ]
    for h in range(1, h_max + 1):
        prev = " UNION ALL ".join(
            f"SELECT s, node FROM l{i}" for i in range(h))
        parts.append(f"""l{h} AS MATERIALIZED (
      SELECT f.s, e.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM l{h - 1} f JOIN e ON e.src = f.node
      LEFT JOIN (SELECT DISTINCT s, node FROM ({prev})) p
        ON p.s = f.s AND p.node = e.dst
      WHERE p.node IS NULL
      GROUP BY f.s, e.dst)""")
    parts.append(f"d{h_max} AS MATERIALIZED (SELECT s, node, "
                 f"CAST(0 AS BIGINT) AS dm FROM l{h_max})")
    for h in range(h_max - 1, -1, -1):
        parts.append(f"""d{h} AS MATERIALIZED (
      SELECT a.s, a.node, CAST(COALESCE(c.dm_sum, 0) AS BIGINT) AS dm
      FROM l{h} a LEFT JOIN (
        SELECT v.s, v.node AS vn,
               SUM(CAST(ROUND((CAST(v.sigma AS DOUBLE)
                               / CAST(w.sigma AS DOUBLE))
                              * (1.0 + dw.dm / 1000000.0)
                              * 1000000) AS BIGINT)) AS dm_sum
        FROM l{h} v JOIN e ON e.src = v.node
        JOIN l{h + 1} w ON w.s = v.s AND w.node = e.dst
        JOIN d{h + 1} dw ON dw.s = v.s AND dw.node = w.node
        GROUP BY v.s, v.node) c
      ON c.s = a.s AND c.vn = a.node)""")
    union = " UNION ALL ".join(
        f"SELECT node, dm FROM d{h}" for h in range(1, h_max + 1))
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT node, CAST(SUM(dm) AS BIGINT) AS betweenness_micro
    FROM ({union}) GROUP BY node ORDER BY node""")


@query(
    "graph_betweenness_centrality",
    survey="north-star graph analytics (Brandes betweenness centrality, "
           "hop-bounded: level-synchronous forward BFS with exact BIGINT "
           "path counts, backward dependency accumulation with per-level "
           "micro-unit rounding — vs the fully level-unrolled SQL twin; "
           "sampled-source Brandes-Pich form at corpus scale)",
    oracle=_betweenness_oracle(),
)
def graph_betweenness_centrality(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """``operators/graph.betweenness_centrality`` over the deterministic
    two-successor parts graph, all 200 nodes as sources, 6 BFS levels.
    Both engines run the SAME level-synchronous recursion — exact σ path
    counts forward, micro-unit-rounded δ dependencies backward — so the
    hash check pins every join, every aggregation and every rounding
    seam of the 13-round pipeline at once. The hop bound is the sampled
    estimator's truncation knob (Brandes & Pich 2007): at corpus scale
    sources are a sample and hops bound the frontier, both inputs here."""
    from server2_vector_search_server_spark.operators.graph import (
        betweenness_centrality,
    )

    part = tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    e1 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 7 + 13) % 200).alias("dst"))
    e2 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 3 + 41) % 200).alias("dst"))
    edges = e1.unionByName(e2)
    nodes = (edges.select(F.col("src").alias("v"))
             .union(edges.select(F.col("dst").alias("v"))).distinct())
    return (betweenness_centrality(edges, nodes, max_hops=_BC_HOPS)
            .orderBy("node"))


# ---------------------------------------------------------------------------
# top-k influential communities: k-core peeling + component min-influence

_IC_N = 400          # graph keys (sf0.001 ships only 200 parts -> the
                     # mod-400 graph there peels to an EMPTY 4-core; both
                     # engines agree on empty, and sf0.01+ exercises the
                     # full 3-round peel / 4-community structure)
_IC_K = 4
_IC_TOP = 3
# oracle peel unroll: 3 rounds reach fixpoint at sf0.01+, 2 reach empty
# at sf0.001; 6 leaves margin (extra rounds are no-ops at fixpoint)


@query(
    "graph_kcore_influential_communities",
    survey="north-star graph analytics (top-k influential communities, "
           "VLDB 2018 shape: k-core peeling to fixpoint -> connected "
           "components of the core -> rank communities by min member "
           "influence; peel rounds are degree-agg + semi-joins, the "
           "oracle unrolls the peel and closes components with the "
           "recursive min-label CTE)",
    oracle="""
    WITH RECURSIVE
    p AS (SELECT p_partkey AS v FROM part WHERE p_partkey < 400),
    raw AS (
      SELECT v AS s, (v * 7 + 13) % 400 AS t FROM p
      UNION ALL SELECT v, (v * 3 + 41) % 400 FROM p),
    e0 AS MATERIALIZED (
      SELECT LEAST(s, t) AS a, GREATEST(s, t) AS b
      FROM raw WHERE s <> t GROUP BY 1, 2),
    n0 AS MATERIALIZED (SELECT a AS v FROM e0 UNION SELECT b FROM e0),
    n1 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n0 x ON x.v = e.a JOIN n0 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n0 x ON x.v = e.a JOIN n0 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    n2 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n1 x ON x.v = e.a JOIN n1 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n1 x ON x.v = e.a JOIN n1 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    n3 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n2 x ON x.v = e.a JOIN n2 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n2 x ON x.v = e.a JOIN n2 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    n4 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n3 x ON x.v = e.a JOIN n3 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n3 x ON x.v = e.a JOIN n3 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    n5 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n4 x ON x.v = e.a JOIN n4 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n4 x ON x.v = e.a JOIN n4 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    n6 AS MATERIALIZED (
      SELECT node AS v FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT e.a AS node FROM e0 e
            JOIN n5 x ON x.v = e.a JOIN n5 y ON y.v = e.b
          UNION ALL
          SELECT e.b AS node FROM e0 e
            JOIN n5 x ON x.v = e.a JOIN n5 y ON y.v = e.b
        ) GROUP BY node) WHERE d >= 4),
    core AS MATERIALIZED (
      SELECT e.a, e.b FROM e0 e
      JOIN n6 x ON x.v = e.a JOIN n6 y ON y.v = e.b),
    cnodes AS (SELECT a AS node FROM core UNION SELECT b FROM core),
    bi AS (SELECT a, b FROM core UNION SELECT b AS a, a AS b FROM core),
    reach AS (
      SELECT node, node AS lbl FROM cnodes
      UNION
      SELECT e.a AS node, r.lbl FROM bi e JOIN reach r ON e.b = r.node),
    comp AS (SELECT node, MIN(lbl) AS community FROM reach GROUP BY node)
    SELECT community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN((node * 37) % 100) AS BIGINT) AS influence
    FROM comp GROUP BY community
    ORDER BY influence DESC, community ASC
    LIMIT 3
    """,
)
def graph_kcore_influential_communities(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Top-3 influential communities of the deterministic two-successor
    parts graph: a community is a connected component of the 4-core
    (every member keeps >= 4 neighbors inside the core), and its
    influence is the MINIMUM member influence ((node*37) % 100) — the
    weakest-member semantics of the VLDB 2018 influential-community
    definition, which makes influence monotone under community shrinkage.
    ``operators/graph.k_core`` peels to fixpoint (count-based
    termination), ``connected_components`` labels the survivors, and the
    ranking is a plain aggregate — all integers end to end, so the
    driver hash pins the peel, the component closure, and the ranking
    at once."""
    from server2_vector_search_server_spark.operators.graph import (
        connected_components,
        k_core,
    )

    p = (tbl(spark, sf_dir, "part")
         .filter(F.col("p_partkey") < _IC_N)
         .select(F.col("p_partkey").alias("v")))
    e1 = p.select(F.col("v").alias("src"),
                  ((F.col("v") * 7 + 13) % _IC_N).alias("dst"))
    e2 = p.select(F.col("v").alias("src"),
                  ((F.col("v") * 3 + 41) % _IC_N).alias("dst"))
    core = k_core(e1.unionByName(e2), _IC_K)
    comps = connected_components(core, "a", "b")
    return (comps
            .withColumn("influence", (F.col("node") * 37) % 100)
            .groupBy(F.col("component").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.min("influence").cast("long").alias("influence"))
            .orderBy(F.col("influence").desc(), F.col("community").asc())
            .limit(_IC_TOP))


# ---------------------------------------------------------------------------
# l-diversity screen — the sensitive-attribute sibling of k-anonymity

_LDIV_L = 3


@query(
    "events_l_diversity_screen",
    survey="north-star curation governance (l-diversity over "
           "quasi-identifier cells: any (user-bucket, weekday) cell whose "
           "SENSITIVE attribute — event_type — shows fewer than l distinct "
           "values is a homogeneity-attack risk even when k-anonymous; "
           "complements documents_k_anonymity_screen)",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(user_id % 20 AS BIGINT) AS user_bucket,
             CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT)
               AS weekday,  -- DuckDB dow is 0-based Sunday, Spark 1-based
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_sensitive
      FROM events GROUP BY 1, 2)
    SELECT user_bucket, weekday, n_rows, n_sensitive,
           n_sensitive >= {_LDIV_L} AS l_diverse
    FROM cells
    ORDER BY user_bucket, weekday
    """,
)
def events_l_diversity_screen(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Distinct l-diversity (Machanavajjhala et al. 2007, public): a cell
    that is k-anonymous can still leak — if all k rows share one
    sensitive value, membership alone reveals it (the homogeneity
    attack). The screen groups by the quasi-identifier tuple and counts
    DISTINCT sensitive values; cells under l fail the release gate and
    get generalized exactly like the k-anonymity loop. One aggregate,
    reduce side bounded by QI cardinality — the same 100-TB shape as the
    k-anonymity screen, with count_distinct (exact here; HLL when the
    sensitive domain is huge) as the only addition."""
    ev = tbl(spark, sf_dir, "events")
    cells = (ev.groupBy(
                 (F.col("user_id") % 20).cast("long").alias("user_bucket"),
                 F.dayofweek(F.col("ts")).cast("long").alias("weekday"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  F.count_distinct("event_type").cast("long")
                  .alias("n_sensitive")))
    return (cells.select(
                "user_bucket", "weekday", "n_rows", "n_sensitive",
                (F.col("n_sensitive") >= _LDIV_L).alias("l_diverse"))
            .orderBy("user_bucket", "weekday"))


# ---------------------------------------------------------------------------
# Two-period Poisson rate test per event type

_PZ_SPLIT = "2024-01-16 00:00:00"       # week 1-2 vs week 3+
_PZ_H1 = 360.0                          # hours in period A (15 days)
_PZ_H2 = 360.0                          # hours in period B


@query(
    "events_poisson_rate_ztest",
    survey="stats extension(two-period Poisson rate comparison per event "
           "type: the C-test normal approximation "
           "z = (a - b)/sqrt(a + b) on exact integer counts — the "
           "regression detector for 'did the error rate change after the "
           "15th'; closed-form, no simulation)",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                           < TIMESTAMP '{_PZ_SPLIT}'
                      THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                           >= TIMESTAMP '{_PZ_SPLIT}'
                      THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY event_type)
    SELECT event_type, CAST(a AS BIGINT) AS n_before,
           CAST(b AS BIGINT) AS n_after,
           ROUND(CAST(a AS DOUBLE) / {_PZ_H1}, 6) AS rate_before,
           ROUND(CAST(b AS DOUBLE) / {_PZ_H2}, 6) AS rate_after,
           ROUND((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))
                 / SQRT(CAST(a AS DOUBLE) + CAST(b AS DOUBLE)), 6) AS z,
           ABS((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))
               / SQRT(CAST(a AS DOUBLE) + CAST(b AS DOUBLE))) > 1.96
             AS significant_95
    FROM c ORDER BY event_type
    """,
)
def events_poisson_rate_ztest(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test (the conditional C-test's normal
    approximation, Przyborowski & Wilenski 1940 lineage — public): under
    H0 (equal rates, equal exposure) a − b over sqrt(a + b) is ~N(0,1).
    Counts are exact integers from ONE scan with conditional aggregation
    (never two passes); the only floats are two divisions and one sqrt of
    exact integers, IEEE-identical on both engines. The per-type rollup
    is the alerting primitive behind 'did deploys after the 15th change
    the error rate' — at 100 TB the reduce side is |event types|."""
    ev = tbl(spark, sf_dir, "events")
    split = F.lit(_PZ_SPLIT).cast("timestamp")
    c = (ev.groupBy("event_type")
         .agg(F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("a"),
              F.sum(F.when(F.col("ts") >= split, 1).otherwise(0))
              .alias("b")))
    a_d = F.col("a").cast("double")
    b_d = F.col("b").cast("double")
    z = (a_d - b_d) / F.sqrt(a_d + b_d)
    return (c.select(
                "event_type",
                F.col("a").cast("long").alias("n_before"),
                F.col("b").cast("long").alias("n_after"),
                F.round(a_d / _PZ_H1, 6).alias("rate_before"),
                F.round(b_d / _PZ_H2, 6).alias("rate_after"),
                F.round(z, 6).alias("z"),
                (F.abs(z) > 1.96).alias("significant_95"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Two-phase exact percentiles — order statistics without a global sort

_TPP_PS = (0.5, 0.95, 0.99)
_TPP_BUCKET = 100_000           # cents per histogram bucket ($1000)


@query(
    "lineitem_two_phase_percentile",
    survey="relational scale pattern(EXACT percentiles without a global "
           "sort: value-bucket histogram pass -> cumulative counts locate "
           "the target bucket + in-bucket rank -> second pass ranks ONLY "
           "the pruned target buckets; the distributed order-statistic "
           "recipe a single-reducer ORDER BY cannot survive at 100 TB)",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
             AS cents
      FROM lineitem),
    n AS (SELECT COUNT(*) AS n FROM v),
    ks AS (
      SELECT CAST(p AS DOUBLE) AS p,
             CAST(CEIL(p * n.n) AS BIGINT) AS k
      FROM (VALUES {", ".join(f"(CAST({p} AS DOUBLE))" for p in _TPP_PS)})
           AS t(p), n),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM v)
    SELECT ks.p, ks.k, r.cents AS value_cents
    FROM ks JOIN r ON r.rn = ks.k
    ORDER BY ks.p
    """,
)
def lineitem_two_phase_percentile(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Exact type-1 percentiles (k = ceil(p·n) order statistic) of
    l_extendedprice in integer cents, computed the way a 100-TB engine
    must: phase 1 aggregates a VALUE-bucket histogram (bounded table,
    collected driver-side as a control structure — the legitimate-collect
    pattern) whose cumulative counts identify, per percentile, the target
    bucket and the in-bucket rank; phase 2 re-scans ONLY rows in target
    buckets (a pushdown-friendly range predicate) and ranks within each
    bucket — a per-bucket window, never a global one. The oracle is the
    global row_number definition itself, so the bucket arithmetic (the
    part that could be off by one) is what the hash pins. Same order
    statistic under duplicated values regardless of tie order, since
    position k's VALUE is unique even when rows tie."""
    li = (tbl(spark, sf_dir, "lineitem")
          .select(F.round(F.col("l_extendedprice").cast("double") * 100)
                  .cast("long").alias("cents")))
    hist = (li.groupBy(F.floor(F.col("cents") / _TPP_BUCKET).alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("b").collect())               # bounded: ~100 buckets
    n = sum(r["cnt"] for r in hist)
    targets = []                                   # (p, bucket, local_rank)
    import math

    for p in _TPP_PS:
        k = int(math.ceil(p * n))     # mirrors the oracle's CEIL(p * n)
        cum = 0
        for r in hist:
            if cum + r["cnt"] >= k:
                targets.append((float(p), int(k), int(r["b"]),
                                int(k - cum)))
                break
            cum += r["cnt"]
    tdf = spark.createDataFrame(
        targets, "p double, k long, b long, local_rank long")
    from pyspark.sql import Window

    wanted_buckets = sorted({t[2] for t in targets})
    phase2 = (li.filter(
                  F.floor(F.col("cents") / _TPP_BUCKET)
                  .isin(wanted_buckets))
              .withColumn("b", F.floor(F.col("cents") / _TPP_BUCKET))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("b").orderBy("cents"))))
    return (phase2.join(F.broadcast(tdf),
                        (phase2["b"] == tdf["b"])
                        & (phase2["rn"] == tdf["local_rank"]))
            .select("p", "k", F.col("cents").alias("value_cents"))
            .orderBy("p"))


# ---------------------------------------------------------------------------
# Matrix profile motif discovery over the hourly series

_MP_N = 720
_MP_ORIGIN = "2024-01-01 00:00:00"
_MP_M = 24                       # subsequence length (one day)
_MP_EXCL = 12                    # exclusion zone m/2: skip trivial matches
_MP_TOPK = 20


@query(
    "events_matrix_profile_motif",
    survey="temporal extension(matrix profile / motif discovery over the "
           "hourly count series: z-normalized all-pairs subsequence "
           "distances via the exact-integer correlation identity "
           "d^2 = 2m(1-corr), per-subsequence nearest neighbor outside "
           "the exclusion zone, top motifs — Yeh et al. 2016 re-expressed "
           "as bounded array joins)",
    oracle=f"""
    WITH spine AS (SELECT unnest(range(0, {_MP_N})) AS t),
    raw AS (
      SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600.0) AS BIGINT)
             - CAST(FLOOR(epoch(TIMESTAMP '{_MP_ORIGIN}') / 3600.0)
                    AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    c AS (
      SELECT s.t, COALESCE(r.n, 0) AS n
      FROM spine s LEFT JOIN raw r ON r.t = s.t),
    ser AS (SELECT list(n ORDER BY t) AS a FROM c),
    w AS (
      SELECT i,
             list_slice(ser.a, i + 1, i + {_MP_M}) AS arr
      FROM ser, (SELECT unnest(range(0, {_MP_N - _MP_M + 1})) AS i)),
    st AS (
      SELECT i, arr,
             CAST(list_sum(arr) AS BIGINT) AS s1,
             CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT)
               AS s2
      FROM w),
    nz AS (SELECT * FROM st
           WHERE {_MP_M} * s2 - s1 * s1 > 0),
    pairs AS (
      SELECT a.i AS i, b.i AS j,
             ROUND(2.0 * {_MP_M} * (1.0 -
               (CAST({_MP_M} AS DOUBLE)
                * list_sum(list_transform(range(1, {_MP_M + 1}),
                                          k -> a.arr[k] * b.arr[k]))
                - CAST(a.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE))
               / SQRT(CAST({_MP_M} * a.s2 - a.s1 * a.s1 AS DOUBLE)
                      * CAST({_MP_M} * b.s2 - b.s1 * b.s1 AS DOUBLE))),
               6) AS d2
      FROM nz a JOIN nz b ON abs(a.i - b.i) >= {_MP_EXCL}),
    mp AS (
      SELECT i, j, d2,
             row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
      FROM pairs)
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j_nn, d2
    FROM mp WHERE rn = 1
    ORDER BY d2, i LIMIT {_MP_TOPK}
    """,
)
def events_matrix_profile_motif(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016 — public) over the gap-filled
    hourly count series: for every length-24 subsequence, the z-normalized
    Euclidean distance to its nearest non-trivial neighbor; the smallest
    profile entries are the series' MOTIFS (recurring daily shapes). The
    z-norm distance is computed through the correlation identity
    d² = 2m(1 − (m·Σab − Σa·Σb) / √((m·Σa²−(Σa)²)(m·Σb²−(Σb)²))) so every
    sum is an exact BIGINT dot product of integer counts — floats appear
    only in the final division/sqrt with identical operand order on both
    engines (the variance product is cast to DOUBLE before multiplying:
    at 100× count magnitudes the int64 product would overflow). Flat
    (zero-variance) windows are excluded — z-normalization is undefined
    there.

    Scale shape: the spine is FIXED (697 windows regardless of corpus
    size — one scan aggregates events onto it), so the all-pairs join is
    ~486k bounded rows at ANY SF; for long series the published scale
    path is STOMP's O(n²) with FFT batching per diagonal, which keeps the
    same (i, j, dot) join shape this query pins."""
    ev = tbl(spark, sf_dir, "events")
    origin_h = F.floor(
        F.unix_timestamp(F.lit(_MP_ORIGIN).cast("timestamp")) / 3600.0)
    raw = (ev.select((F.floor(F.unix_timestamp("ts") / 3600.0)
                      - origin_h).cast("long").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n")))
    spine = spark.range(_MP_N).select(F.col("id").alias("t"))
    c = (spine.join(raw, "t", "left")
         .select("t", F.coalesce("n", F.lit(0)).cast("long").alias("n")))
    ser = c.agg(F.array_sort(F.collect_list(F.struct("t", "n"))).alias("p"))
    ser = ser.select(F.transform("p", lambda s: s["n"]).alias("a"))
    w = (ser.select(F.explode(
             F.sequence(F.lit(0), F.lit(_MP_N - _MP_M))).alias("i"), "a")
         .select("i", F.slice("a", F.col("i") + 1, _MP_M).alias("arr")))
    st = w.select(
        "i", "arr",
        F.aggregate("arr", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("s1"),
        F.aggregate("arr", F.lit(0).cast("long"),
                    lambda acc, x: acc + x * x).alias("s2"))
    # spread before the checkpoint: the all-pairs nested-loop join's stream
    # side inherits the checkpoint's partitioning, and the single-row agg
    # upstream leaves 1-2 partitions — serializing ~486k interpreted
    # zip_with dot products onto 1-2 cores (the residue trap documented in
    # operators/dedup.py). One tiny pre-shuffle of <=697 rows buys
    # full-width map-side pair evaluation.
    par = spark.sparkContext.defaultParallelism
    nz = (st.filter(_MP_M * F.col("s2") - F.col("s1") * F.col("s1") > 0)
          .repartition(par)
          .localCheckpoint(eager=True))          # bounded: <= 697 rows
    a = nz.select(F.col("i").alias("i"), F.col("arr").alias("wa"),
                  F.col("s1").alias("s1a"), F.col("s2").alias("s2a"))
    b = nz.select(F.col("i").alias("j"), F.col("arr").alias("wb"),
                  F.col("s1").alias("s1b"), F.col("s2").alias("s2b"))
    dot = F.aggregate(F.zip_with("wa", "wb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    d2 = F.round(
        2.0 * _MP_M * (F.lit(1.0) -
            (F.lit(float(_MP_M)) * dot
             - F.col("s1a").cast("double") * F.col("s1b").cast("double"))
            / F.sqrt((_MP_M * F.col("s2a")
                      - F.col("s1a") * F.col("s1a")).cast("double")
                     * (_MP_M * F.col("s2b")
                        - F.col("s1b") * F.col("s1b")).cast("double"))),
        6)
    pairs = (a.join(b, F.abs(F.col("i") - F.col("j")) >= _MP_EXCL)
             .select("i", "j", d2.alias("d2")))
    from pyspark.sql import Window

    mp = (pairs.withColumn(
              "rn", F.row_number().over(
                  Window.partitionBy("i").orderBy("d2", "j")))
          .filter(F.col("rn") == 1))
    return (mp.select(F.col("i").cast("long").alias("i"),
                      F.col("j").cast("long").alias("j_nn"), "d2")
            .orderBy("d2", "i").limit(_MP_TOPK))


# ---------------------------------------------------------------------------
# Inter-annotator agreement — Cohen's kappa between two labeling rules

@query(
    "curation_cohens_kappa_agreement",
    survey="north-star training-data QA (inter-annotator agreement: "
           "Cohen's kappa between two independent quality-labeling rules "
           "over the corpus — the chance-corrected agreement statistic "
           "that decides whether labels are trustworthy enough to train "
           "a quality classifier on; exact integer confusion counts, "
           "closed form)",
    oracle="""
    WITH lab AS (
      SELECT doc_id,
             n_chars >= 150 AS a,
             length(text) - length(replace(text, ' ', '')) >= 20 AS b
      FROM documents),
    cm AS (
      SELECT SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
             SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
             SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
             SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00,
             COUNT(*) AS n
      FROM lab)
    SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           ROUND((CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                  + CAST((n01 + n00) * (n10 + n00) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                     + CAST((n01 + n00) * (n10 + n00) AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
                           + CAST((n01 + n00) * (n10 + n00) AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
             AS kappa
    FROM cm
    """,
)
def curation_cohens_kappa_agreement(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960, public statistic) between two
    deterministic binary labelers — a length rule and a whitespace-count
    (token-ish) rule — standing in for two annotators / two heuristic
    quality filters: κ = (p_o − p_e)/(1 − p_e) with p_e from the
    labelers' marginals. The entire confusion matrix folds in ONE scan
    of conditional aggregates (exact BIGINT counts); κ is closed-form
    float arithmetic on five integers, mirrored operand-for-operand in
    the oracle. The decision this feeds: a quality-classifier training
    set whose label sources disagree at κ < 0.4 is noise, not signal.
    At 100 TB the scan dominates and the reduce side is one row."""
    docs = tbl(spark, sf_dir, "documents")
    lab = docs.select(
        (F.col("n_chars") >= 150).alias("a"),
        ((F.length("text")
          - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
         >= 20).alias("b"))
    cm = lab.agg(
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0)).alias("n11"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .alias("n10"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .alias("n01"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .alias("n00"),
        F.count(F.lit(1)).alias("n"))
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (((F.col("n11") + F.col("n10"))
           * (F.col("n11") + F.col("n01"))).cast("double")
          + ((F.col("n01") + F.col("n00"))
             * (F.col("n10") + F.col("n00"))).cast("double")) / (n * n)
    return cm.select(
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"))


# ---------------------------------------------------------------------------
# Branch/merge refs on the snapshot store (Nessie / LakeFS model)

@query(
    "store_branch_merge_semantics",
    survey="store extension(git-like data branching on the snapshot "
           "store: zero-copy branch forks, branch-isolated commits, "
           "merge with the OCC touched-set rule — fast-forward when the "
           "target is unchanged, merge commit when disjoint, conflict "
           "when overlapping; Nessie/LakeFS semantics on immutable "
           "manifests, outcomes + final-table digest hash-pinned)",
    oracle="""
    WITH final AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_name,
             CASE WHEN doc_id BETWEEN 310 AND 312 THEN 'm:' || text
                  ELSE text END AS content
      FROM documents
      WHERE doc_id < 30 OR doc_id BETWEEN 100 AND 119
         OR doc_id BETWEEN 200 AND 219 OR doc_id BETWEEN 300 AND 312),
    dig AS (
      SELECT md5(string_agg(md5(doc_name || '|' || md5(content)), ''
                            ORDER BY md5(doc_name || '|' || md5(content))))
               AS final_digest,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM final)
    SELECT o.branch, o.outcome, o.target_advanced, dig.n_docs,
           dig.final_digest
    FROM (VALUES ('conf', 'conflict', FALSE),
                 ('feat', 'merge', TRUE),
                 ('ff', 'fast_forward', TRUE))
         o(branch, outcome, target_advanced), dig
    ORDER BY o.branch
    """,
)
def store_branch_merge_semantics(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Data branching on the immutable-manifest store
    (``sources/snapshots.BranchedSnapshotStore``): 'feat' forks before
    main advances and both add DISJOINT docs — merge lands a merge commit
    whose file list is target head + the branch's added files (zero data
    movement: immutable files merge by reference). 'ff' forks from an
    unchanged main — merge is a pure pointer move, provably no new
    manifest. 'conf' and main both touch docs 310-312 after the fork —
    the touched-set rule (same validation as store_occ_conflict_detection,
    applied between refs) rejects the merge and main provably keeps its
    own content, which the final digest pins byte-exactly. The lakehouse
    workflow this enables at 100 TB: run a candidate curation pipeline on
    a branch against production data with zero copies, validate, merge or
    discard."""
    from server2_vector_search_server_spark.plans.registry import (
        scratch_dir,
    )
    from server2_vector_search_server_spark.sources.snapshots import (
        BranchedSnapshotStore,
    )

    store = BranchedSnapshotStore(spark, scratch_dir("branch_store_"))
    docs = tbl(spark, sf_dir, "documents")

    def chunks(lo, hi, tag=None):
        d = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        text = (F.concat(F.lit(tag), F.col("text")) if tag
                else F.col("text"))
        name = F.concat(F.lit("doc_"), F.col("doc_id"))
        return d.select(
            F.md5(name).alias("chunk_id"), F.md5(name).alias("doc_id"),
            name.alias("doc_name"), F.lit(0).alias("chunk_index"),
            F.lit("col_a").alias("original_collection"),
            text.alias("content"),
            F.create_map(F.lit("source"), name).alias("metadata"),
            F.array(F.lit(0.1), F.lit(0.2)).cast("array<float>")
            .alias("embedding"),
            F.lit("col_a").alias("collection"))

    store.commit_on("main", chunks(0, 30))
    store.create_branch("feat")
    store.commit_on("feat", chunks(100, 120))
    main_before_feat = store._refs()["main"]["head"]
    store.commit_on("main", chunks(200, 220))
    feat_outcome, feat_v = store.merge("feat")
    feat_advanced = store._refs()["main"]["head"] != main_before_feat

    store.create_branch("ff")
    store.commit_on("ff", chunks(300, 310))
    main_before_ff = store._refs()["main"]["head"]
    ff_outcome, ff_v = store.merge("ff")
    ff_advanced = store._refs()["main"]["head"] != main_before_ff

    store.create_branch("conf")
    store.commit_on("conf", chunks(310, 316, tag="b:"))
    store.commit_on("main", chunks(310, 313, tag="m:"))
    main_before_conf = store._refs()["main"]["head"]
    conf_outcome, conf_v = store.merge("conf")
    conf_advanced = store._refs()["main"]["head"] != main_before_conf

    row_h = F.md5(F.concat_ws("|", "doc_name", F.md5("content")))
    dig = (store.read_ref("main").withColumn("h", row_h)
           .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h"))))
                .alias("final_digest"),
                F.count(F.lit(1)).cast("long").alias("n_docs"))
           .first())
    return (spark.createDataFrame(
                [("conf", conf_outcome, bool(conf_advanced)),
                 ("feat", feat_outcome, bool(feat_advanced)),
                 ("ff", ff_outcome, bool(ff_advanced))],
                "branch string, outcome string, target_advanced boolean")
            .select("branch", "outcome", "target_advanced",
                    F.lit(int(dig["n_docs"])).cast("long").alias("n_docs"),
                    F.lit(dig["final_digest"]).alias("final_digest"))
            .orderBy("branch"))


# ---------------------------------------------------------------------------
# Strongly connected components — directed cycle structure

@query(
    "graph_strongly_connected_components",
    survey="north-star graph analytics (directed SCCs via reachability "
           "closure to fixpoint intersected with its transpose — the "
           "directed sibling of connected components; recursive-CTE "
           "UNION-fixpoint oracle; FW-BW pivot decomposition cited as "
           "the corpus-scale form)",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM ({_HC_EDGES_SQL}) GROUP BY src, dst),
    nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
    walk(s, node) AS (
      SELECT v AS s, v AS node FROM nodes
      UNION
      SELECT w.s, e.dst AS node FROM walk w JOIN e ON e.src = w.node),
    mutual AS (
      SELECT a.s AS v, a.node AS u
      FROM walk a JOIN walk b ON b.s = a.node AND b.node = a.s)
    SELECT v AS node, CAST(MIN(u) AS BIGINT) AS scc_id
    FROM mutual GROUP BY v ORDER BY node
    """,
)
def graph_strongly_connected_components(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """``operators/graph.strongly_connected_components`` over the
    deterministic two-successor parts graph. The oracle's recursive CTE
    uses UNION (distinct) so DuckDB's fixpoint semantics terminate at
    exactly the closure the Spark BFS loop reaches — both sides then take
    the identical transpose-intersection and min-label, so the hash pins
    the closure, the mutuality join and the labeling at once. Directed
    SCCs are what undirected components cannot see: a -> b -> a is one
    SCC, a -> b alone is two."""
    from server2_vector_search_server_spark.operators.graph import (
        strongly_connected_components,
    )

    part = tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    e1 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 7 + 13) % 200).alias("dst"))
    e2 = part.select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * 3 + 41) % 200).alias("dst"))
    return (strongly_connected_components(e1.unionByName(e2))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# Difference-in-differences — the 2x2 causal baseline

_DID_SPLIT = "2024-01-16 00:00:00"


@query(
    "events_diff_in_diff",
    survey="stats extension(difference-in-differences: the 2x2 "
           "treated/control x pre/post estimator on exact one-scan "
           "micro-unit cell sums — the parallel-trends causal baseline "
           "for 'did the change on the 16th move purchase value')",
    oracle=f"""
    WITH cells AS (
      SELECT (user_id % 2 = 0) AS treated,
             (CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_DID_SPLIT}') AS post,
             SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
               AS s_micro,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    m AS (
      SELECT treated, post,
             CAST(s_micro AS DOUBLE) / (1000000.0 * n) AS mean_v,
             CAST(n AS BIGINT) AS n
      FROM cells)
    SELECT
      ROUND((SELECT mean_v FROM m WHERE treated AND post), 6)
        AS treated_post,
      ROUND((SELECT mean_v FROM m WHERE treated AND NOT post), 6)
        AS treated_pre,
      ROUND((SELECT mean_v FROM m WHERE NOT treated AND post), 6)
        AS control_post,
      ROUND((SELECT mean_v FROM m WHERE NOT treated AND NOT post), 6)
        AS control_pre,
      CAST((SELECT SUM(n) FROM m) AS BIGINT) AS n_purchases,
      ROUND(((SELECT mean_v FROM m WHERE treated AND post)
             - (SELECT mean_v FROM m WHERE treated AND NOT post))
            - ((SELECT mean_v FROM m WHERE NOT treated AND post)
               - (SELECT mean_v FROM m WHERE NOT treated AND NOT post)),
            6) AS did
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (Card & Krueger lineage — public method):
    did = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) over purchase
    values, treated = even user ids, intervention at Jan 16. The 2×2
    cell sums fold in ONE scan as exact micro-unit BIGINTs; the four
    means and the estimator are closed-form float arithmetic on exact
    integers with mirrored operand order. Under parallel trends this is
    the causal effect of the intervention; the engine's job at 100 TB is
    the cell fold, which is a partial-aggregable two-key groupBy."""
    ev = (tbl(spark, sf_dir, "events")
          .filter(F.col("event_type") == "purchase"))
    cells = (ev.groupBy(
                 (F.col("user_id") % 2 == 0).alias("treated"),
                 (F.col("ts") >= F.lit(_DID_SPLIT).cast("timestamp"))
                 .alias("post"))
             .agg(F.sum(F.round(F.col("value").cast("double") * 1000000)
                        .cast("long")).alias("s_micro"),
                  F.count(F.lit(1)).alias("n")))
    m = cells.select(
        "treated", "post",
        (F.col("s_micro").cast("double")
         / (1000000.0 * F.col("n"))).alias("mean_v"),
        F.col("n").cast("long").alias("n")).collect()
    v = {(r["treated"], r["post"]): r["mean_v"] for r in m}
    n_total = sum(r["n"] for r in m)
    did = ((v[(True, True)] - v[(True, False)])
           - (v[(False, True)] - v[(False, False)]))
    return spark.createDataFrame(
        [(round(v[(True, True)], 6), round(v[(True, False)], 6),
          round(v[(False, True)], 6), round(v[(False, False)], 6),
          n_total, round(did, 6))],
        "treated_post double, treated_pre double, control_post double, "
        "control_pre double, n_purchases long, did double")


# ---------------------------------------------------------------------------
# Streaming upkeep of the seasonal baseline (IVM partials -> decompose)

from server2_vector_search_server_spark.plans.registry import REGISTRY

_SD_ORACLE = REGISTRY["events_seasonal_decompose"].oracle


@query(
    "streaming_seasonal_baseline_upkeep",
    survey="I x temporal (incrementally maintained seasonal baseline: "
           "events stream in micro-batches into the IVM hourly-partials "
           "view, the decompose arithmetic runs merge-on-read over the "
           "partials — hash-equal to the batch decomposition, proving "
           "the baseline a streaming anomaly detector thresholds against "
           "never needs a full recompute)",
    oracle=_SD_ORACLE,
)
def streaming_seasonal_baseline_upkeep(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The seasonal baseline as a LIVE artifact: micro-batches fold into
    per-(hour, type) count partials (streaming/ivm.py — the input is
    never re-scanned), and the classical-decomposition arithmetic
    (gap-filled spine, centered MA trend, micro-unit hod fold) runs over
    the MERGED partials at read time. Hash-matching the batch
    events_seasonal_decompose oracle proves the composition end-to-end:
    counts are associative partials, and everything downstream of the
    merge is deterministic arithmetic, so incremental upkeep cannot
    drift from the from-scratch answer. At 100 TB this is the shape of
    every 'seasonal-adjusted alert' pipeline: the partial table is
    |hours x types|, the decompose is bounded, the stream pays only its
    own batch."""
    import os

    from server2_vector_search_server_spark.plans.registry import (
        scratch_dir,
        staged_source,
    )
    from server2_vector_search_server_spark.streaming.ivm import (
        HourlyRollupView,
        start_rollup_stream,
    )

    # the same events x 6 source streaming_incremental_rollup stages
    src = staged_source(spark, sf_dir, "events", 6)
    work = scratch_dir("seasonal_ivm_")
    view = HourlyRollupView(spark, os.path.join(work, "view"))
    q = start_rollup_stream(spark, src, view, os.path.join(work, "ckpt"),
                            max_files_per_trigger=2)
    q.awaitTermination()
    cur = view.current()
    origin_h = F.floor(
        F.unix_timestamp(F.lit(_SD_ORIGIN).cast("timestamp")) / 3600.0)
    raw = cur.select(
        "event_type",
        (F.floor(F.unix_timestamp("window_start") / 3600.0) - origin_h)
        .cast("long").alias("t"),
        F.col("n_events").cast("long").alias("n"))
    types = raw.select("event_type").distinct()
    return _seasonal_from_counts(spark, raw, types)


# ---------------------------------------------------------------------------
# DAG longest-path layers — topological scheduling depth

_DAG_EDGES_SQL = """
        SELECT p_partkey AS src,
               p_partkey + 10 + (p_partkey * 7) % 20 AS dst
        FROM part WHERE p_partkey < 170
        UNION ALL
        SELECT p_partkey AS src,
               p_partkey + 15 + (p_partkey * 3) % 25 AS dst
        FROM part WHERE p_partkey < 160
"""


@query(
    "graph_dag_longest_path_layers",
    survey="north-star graph analytics (DAG critical-path layering: "
           "iterative max-relaxation to fixpoint = topological level / "
           "scheduling depth per node; UNION-fixpoint recursive-CTE "
           "oracle on (node, len) STATES so path enumeration never "
           "explodes; cycle detection by non-convergence)",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM ({_DAG_EDGES_SQL}) GROUP BY src, dst),
    nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
    walk(node, len) AS (
      SELECT v AS node, CAST(0 AS BIGINT) AS len FROM nodes
      UNION
      SELECT e.dst AS node, w.len + 1 AS len
      FROM walk w JOIN e ON e.src = w.node)
    SELECT node, CAST(MAX(len) AS BIGINT) AS layer
    FROM walk GROUP BY node ORDER BY node
    """,
)
def graph_dag_longest_path_layers(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """``operators/graph.dag_longest_path_layers`` over a strictly
    forward-jumping parts DAG (both successor rules add ≥10, so the graph
    is acyclic by construction and the longest path is ≤ ~20). The oracle
    recursion carries (node, len) STATES under UNION-distinct — bounded
    by nodes × depth — instead of enumerating paths (2^depth with
    branching 2); MAX(len) per node is exactly the relaxation fixpoint.
    This layer number is the scheduling contract: a 100-TB DAG of
    pipeline tasks executes layer-by-layer, and the layer table is what
    the scheduler shuffles — node-sized, never path-sized."""
    from server2_vector_search_server_spark.operators.graph import (
        dag_longest_path_layers,
    )

    p1 = tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 170)
    p2 = tbl(spark, sf_dir, "part").filter(F.col("p_partkey") < 160)
    e1 = p1.select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 10 + (F.col("p_partkey") * 7) % 20)
        .alias("dst"))
    e2 = p2.select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 15 + (F.col("p_partkey") * 3) % 25)
        .alias("dst"))
    return (dag_longest_path_layers(e1.unionByName(e2))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# Write-Audit-Publish — the staged-commit quality gate

@query(
    "store_branch_wap_publish",
    survey="store extension(branch-based Write-Audit-Publish: stage a "
           "batch on an audit BRANCH of the snapshot store, run the "
           "expectation suite against the branch view, fast-forward-"
           "publish only if every check passes — the ref-native WAP "
           "that store_write_audit_publish implements with staging "
           "ROOTS; zero-copy publish, poisoned batch provably never "
           "reaches main)",
    oracle="""
    WITH final AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_name, text AS content
      FROM documents WHERE doc_id < 40),
    dig AS (
      SELECT md5(string_agg(md5(doc_name || '|' || md5(content)), ''
                            ORDER BY md5(doc_name || '|' || md5(content))))
               AS main_digest,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM final)
    SELECT b.batch, b.audit_passed, b.published, dig.n_docs,
           dig.main_digest
    FROM (VALUES ('clean', TRUE, TRUE),
                 ('poisoned', FALSE, FALSE))
         b(batch, audit_passed, published), dig
    ORDER BY b.batch
    """,
)
def store_branch_wap_publish(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """WAP (Iceberg's write-audit-publish workflow, public pattern): every
    ingest batch lands on a throwaway audit branch; the data-quality
    audit (here: no null/blank content, doc_name uniqueness — the
    documents_expectation_checks shape applied to the staged view) reads
    the BRANCH, so main's readers never see unaudited rows; a green audit
    publishes by fast-forward (pure pointer move — the data was already
    written once, WAP costs zero extra copies); a red audit leaves main
    byte-identical, which the final digest proves. The 'poisoned' batch
    carries a NULL-content row and duplicate doc_names; its audit fails
    and main still hashes to exactly the clean batch."""
    from server2_vector_search_server_spark.plans.registry import (
        scratch_dir,
    )
    from server2_vector_search_server_spark.sources.snapshots import (
        BranchedSnapshotStore,
    )

    store = BranchedSnapshotStore(spark, scratch_dir("wap_store_"))
    docs = tbl(spark, sf_dir, "documents")

    def chunks(lo, hi, poison=False):
        d = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        name = F.concat(F.lit("doc_"), F.col("doc_id"))
        if poison:
            # null content on every 5th row, duplicate names on every 7th
            content = F.when(F.col("doc_id") % 5 == 0,
                             F.lit(None).cast("string")) \
                       .otherwise(F.col("text"))
            name = F.when(F.col("doc_id") % 7 == 0, F.lit("doc_dup")) \
                    .otherwise(name)
        else:
            content = F.col("text")
        return d.select(
            F.md5(F.concat(name, F.col("doc_id").cast("string")))
            .alias("chunk_id"),
            F.md5(name).alias("doc_id"), name.alias("doc_name"),
            F.lit(0).alias("chunk_index"),
            F.lit("col_a").alias("original_collection"),
            content.alias("content"),
            F.create_map(F.lit("source"), name).alias("metadata"),
            F.array(F.lit(0.1), F.lit(0.2)).cast("array<float>")
            .alias("embedding"),
            F.lit("col_a").alias("collection"))

    def audit(view: DataFrame) -> bool:
        m = view.agg(
            F.sum(F.when(F.col("content").isNull()
                         | (F.col("content") == ""), 1).otherwise(0))
            .alias("bad_content"),
            (F.count(F.lit(1))
             - F.count_distinct("doc_name")).alias("dup_names")).first()
        return m["bad_content"] == 0 and m["dup_names"] == 0

    def wap(batch_name: str, staged) -> tuple[bool, bool]:
        branch = f"audit_{batch_name}"
        store.create_branch(branch)
        store.commit_on(branch, staged)
        ok = audit(store.read_ref(branch))
        if ok:
            outcome, _ = store.merge(branch)
            return ok, outcome in ("fast_forward", "merge")
        return ok, False

    clean_ok, clean_pub = wap("clean", chunks(0, 40))
    pois_ok, pois_pub = wap("poisoned", chunks(200, 240, poison=True))

    row_h = F.md5(F.concat_ws("|", "doc_name", F.md5("content")))
    dig = (store.read_ref("main").withColumn("h", row_h)
           .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h"))))
                .alias("main_digest"),
                F.count(F.lit(1)).cast("long").alias("n_docs"))
           .first())
    return (spark.createDataFrame(
                [("clean", bool(clean_ok), bool(clean_pub)),
                 ("poisoned", bool(pois_ok), bool(pois_pub))],
                "batch string, audit_passed boolean, published boolean")
            .select("batch", "audit_passed", "published",
                    F.lit(int(dig["n_docs"])).cast("long").alias("n_docs"),
                    F.lit(dig["main_digest"]).alias("main_digest"))
            .orderBy("batch"))


# ---------------------------------------------------------------------------
# Session co-occurrence PMI / lift between event types

@query(
    "events_pmi_type_cooccurrence",
    survey="product-analytics extension(PMI + lift between event types "
           "co-occurring in (user, day) sessions: distinct-type sets -> "
           "unordered pair counts -> pointwise mutual information over "
           "exact integer count ratios — the association measure behind "
           "'users who error also churn')",
    oracle="""
    WITH sess AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type
      FROM events),
    n AS (SELECT COUNT(DISTINCT (user_id, d)) AS n_sess FROM sess),
    tc AS (
      SELECT event_type, COUNT(*) AS c FROM sess GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS c_ab
      FROM sess a JOIN sess b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, CAST(p.c_ab AS BIGINT) AS n_together,
           CAST(ta.c AS BIGINT) AS n_a, CAST(tb.c AS BIGINT) AS n_b,
           ROUND(LN((CAST(p.c_ab AS DOUBLE) * CAST(n.n_sess AS DOUBLE))
                    / (CAST(ta.c AS DOUBLE) * CAST(tb.c AS DOUBLE))), 6)
             AS pmi,
           ROUND((CAST(p.c_ab AS DOUBLE) * CAST(n.n_sess AS DOUBLE))
                 / (CAST(ta.c AS DOUBLE) * CAST(tb.c AS DOUBLE)), 6)
             AS lift
    FROM pairs p
    JOIN tc ta ON ta.event_type = p.type_a
    JOIN tc tb ON tb.event_type = p.type_b, n
    ORDER BY p.type_a, p.type_b
    """,
)
def events_pmi_type_cooccurrence(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Pointwise mutual information (Church & Hanks 1990, public measure)
    between event types sharing a (user, day) session: PMI > 0 means the
    pair co-occurs more than independence predicts — the screening step
    before any 'behavior X predicts behavior Y' claim. All counts are
    exact integers from a distinct-set self-join keyed on the session
    (shuffle ∝ sessions × types², types bounded); ln and one division
    are the only floats, on identical exact-integer operands. Lift is
    the same ratio unlogged — retail-analytics vocabulary, same row."""
    ev = tbl(spark, sf_dir, "events")
    sess = (ev.select("user_id", F.to_date("ts").alias("d"), "event_type")
            .distinct().localCheckpoint(eager=True))
    n_sess = sess.select("user_id", "d").distinct().count()
    tc = sess.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = sess.select("user_id", "d", F.col("event_type").alias("type_a"))
    b = sess.select("user_id", "d", F.col("event_type").alias("type_b"))
    pairs = (a.join(b, ["user_id", "d"])
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("c_ab")))
    ta = tc.select(F.col("event_type").alias("type_a"),
                   F.col("c").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"),
                   F.col("c").alias("n_b"))
    ratio = ((F.col("c_ab").cast("double") * F.lit(float(n_sess)))
             / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
    return (pairs.join(F.broadcast(ta), "type_a")
            .join(F.broadcast(tb), "type_b")
            .select("type_a", "type_b",
                    F.col("c_ab").cast("long").alias("n_together"),
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.round(F.log(ratio), 6).alias("pmi"),
                    F.round(ratio, 6).alias("lift"))
            .orderBy("type_a", "type_b"))


# ---------------------------------------------------------------------------
# Heaps' law — vocabulary growth fit

# 1e6, not 1e9: x ~ ln(1e5)*scale and the normal equations square it —
# at 1e9 the x*y products overflow int64 on the Spark side (DuckDB hides
# the same bug in HUGEINT). 1e6 keeps n*sxy ~ 1e15 with 6 exact decimals.
_HEAPS_SCALE = 1_000_000
_HEAPS_THRS = tuple(range(50, 501, 50))


@query(
    "text_heaps_law_fit",
    survey="north-star corpus diagnostics (Heaps'-law vocabulary growth: "
           "V(n) = K n^beta fit by log-log OLS over doc-prefix "
           "checkpoints — first-appearance vocab counts, exact "
           "integer-scaled normal equations; the companion corpus-health "
           "gate to text_zipf_fit)",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           UNNEST(list_filter(string_split_regex(trim(lower(text)),
                                                 '\\s+'),
                              x -> x <> '')) AS t(term)),
    doc_tok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM toks GROUP BY doc_id),
    first_seen AS (
      SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term),
    thr AS (SELECT unnest({list(_HEAPS_THRS)}) AS thr),
    pts AS (
      SELECT thr.thr,
             (SELECT SUM(n_toks) FROM doc_tok WHERE doc_id < thr.thr)
               AS n_tokens,
             (SELECT COUNT(*) FROM first_seen WHERE first_doc < thr.thr)
               AS vocab
      FROM thr),
    xy AS (
      SELECT CAST(ROUND(ROUND(ln(CAST(n_tokens AS DOUBLE)), 9)
                        * {_HEAPS_SCALE}) AS BIGINT) AS x,
             CAST(ROUND(ROUND(ln(CAST(vocab AS DOUBLE)), 9)
                        * {_HEAPS_SCALE}) AS BIGINT) AS y
      FROM pts),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy)
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta,
           CASE WHEN n * syy - sy * sy = 0 THEN 0.0
                ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           * CAST(n * sxy - sx * sy AS DOUBLE)
                           / (CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS r2
    FROM s
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'/Herdan's law (public empirical law): vocabulary grows as
    V(n) ≈ K·n^β with β ≈ 0.4-0.6 on natural text — β near 0 flags a
    templated corpus (vocabulary saturates), β near 1 flags noise (every
    token new: OCR garbage, random ids). Vocab at each doc-prefix
    checkpoint comes from FIRST-APPEARANCE doc ids (one groupBy — never
    one distinct-count per checkpoint), token totals from per-doc counts;
    the log-log OLS folds the same exact integer-scaled points as
    text_zipf_fit, so β and R² divide identical BIGINTs on both engines.
    At 100 TB: two aggregates bounded by |vocabulary| and |docs|, ten
    threshold probes on broadcast-scale tables."""
    from server2_vector_search_server_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    toks = (docs.select("doc_id",
                        F.explode(tokens(F.lower(F.col("text"))))
                        .alias("term"))
            .localCheckpoint(eager=True))
    doc_tok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"))
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    thr = spark.createDataFrame([(t,) for t in _HEAPS_THRS], "thr long")
    n_tokens = (thr.join(doc_tok, doc_tok["doc_id"] < thr["thr"])
                .groupBy("thr").agg(F.sum("n_toks").alias("n_tokens")))
    vocab = (thr.join(first_seen, first_seen["first_doc"] < thr["thr"])
             .groupBy("thr").agg(F.count(F.lit(1)).alias("vocab")))
    pts = n_tokens.join(vocab, "thr")
    xy = pts.select(
        F.round(F.round(F.log(F.col("n_tokens").cast("double")), 9)
                * _HEAPS_SCALE).cast("long").alias("x"),
        F.round(F.round(F.log(F.col("vocab").cast("double")), 9)
                * _HEAPS_SCALE).cast("long").alias("y"))
    s = xy.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
               F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # deny = 0 means the vocabulary never grew across checkpoints — a
    # FULLY saturated (templated) corpus: beta is exactly 0 and R^2 is
    # undefined; pin it to 0.0 on both engines (this synthetic corpus has
    # a 31-word vocabulary, all seen in the first 50 docs — the query's
    # own diagnostic firing on its own test data).
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("beta"),
        F.when(deny == 0, F.lit(0.0))
        .otherwise(F.round(num.cast("double") * num.cast("double")
                           / (den.cast("double") * deny.cast("double")),
                           6)).alias("r2"))


# ---------------------------------------------------------------------------
# Entropy rate of the user-journey transition matrix

@query(
    "events_transition_entropy_rate",
    survey="product-analytics extension(Shannon entropy per transition-"
           "matrix row + the stationary-weighted entropy rate: how "
           "predictable the next user action is given the current one — "
           "exact nano-unit term folds, ln on exact integer ratios)",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events),
    counts AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    rows_ AS (
      SELECT prev_type, SUM(n) AS r FROM counts GROUP BY prev_type),
    tot AS (SELECT SUM(n) AS t FROM counts),
    terms AS (
      SELECT c.prev_type,
             CAST(ROUND(-(CAST(c.n AS DOUBLE) / CAST(ro.r AS DOUBLE))
                        * LN(CAST(c.n AS DOUBLE) / CAST(ro.r AS DOUBLE))
                        * 1000000000) AS BIGINT) AS tm
      FROM counts c JOIN rows_ ro ON ro.prev_type = c.prev_type)
    SELECT t.prev_type AS from_type,
           CAST(ro.r AS BIGINT) AS n_transitions,
           ROUND(CAST(SUM(t.tm) AS DOUBLE) / 1000000000.0, 6)
             AS row_entropy_nats,
           ROUND((CAST(ro.r AS DOUBLE) / CAST(tot.t AS DOUBLE))
                 * (CAST(SUM(t.tm) AS DOUBLE) / 1000000000.0), 6)
             AS rate_contribution
    FROM terms t
    JOIN rows_ ro ON ro.prev_type = t.prev_type, tot
    GROUP BY t.prev_type, ro.r, tot.t
    ORDER BY from_type
    """,
)
def events_transition_entropy_rate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Conditional Shannon entropy of the next event given the current one
    (nats), per from-state, plus each state's contribution to the
    empirical entropy rate Σ_i w_i·H_i (w = state visit share) — the
    predictability measure over the same first-order matrix
    events_transition_matrix materializes. Per-row entropy is a float
    SUM over up to |types| terms, so each term enters as a nano-unit
    BIGINT (order-free); ln takes exact integer ratios on both engines.
    The matrix is |types|² — broadcast scale regardless of corpus."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.withColumn("prev_type", F.lag("event_type").over(w))
    counts = (ordered.filter(F.col("prev_type").isNotNull())
              .groupBy("prev_type", "event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n"))
              .localCheckpoint(eager=True))
    rows_ = counts.groupBy("prev_type").agg(F.sum("n").alias("r"))
    tot = int(counts.agg(F.sum("n")).first()[0])
    p = F.col("n").cast("double") / F.col("r").cast("double")
    terms = (counts.join(F.broadcast(rows_), "prev_type")
             .select("prev_type", "r",
                     F.round(-p * F.log(p) * 1_000_000_000)
                     .cast("long").alias("tm")))
    h = F.sum("tm").cast("double") / 1_000_000_000.0
    return (terms.groupBy(F.col("prev_type").alias("from_type"),
                          F.col("r"))
            .agg(F.round(h, 6).alias("row_entropy_nats"),
                 F.round((F.col("r").cast("double") / float(tot)) * h, 6)
                 .alias("rate_contribution"))
            .select("from_type", F.col("r").cast("long")
                    .alias("n_transitions"),
                    "row_entropy_nats", "rate_contribution")
            .orderBy("from_type"))


# ---------------------------------------------------------------------------
# Modularity of the label partition on the k-NN graph

_MOD_N = 150
_MOD_K = 3
_MOD_L2 = ("ROUND(list_sum(list_transform(range(1, 65), "
           "i -> (CAST(a.embedding[i] AS DOUBLE) "
           "- CAST(b.embedding[i] AS DOUBLE)) "
           "* (CAST(a.embedding[i] AS DOUBLE) "
           "- CAST(b.embedding[i] AS DOUBLE)))), 6)")


@query(
    "graph_label_modularity",
    survey="north-star graph analytics x embedding QA (Newman modularity "
           "of the class-label partition on the exact 3-NN embedding "
           "graph: per-community intra-edge vs degree-expectation "
           "contributions from exact integer counts — do the labels "
           "form graph communities, the structural twin of "
           "embedding_knn_label_eval)",
    oracle=f"""
    WITH sl AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < {_MOD_N}),
    nn AS (
      SELECT _src, _dst FROM (
        SELECT a.vec_id AS _src, b.vec_id AS _dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY {_MOD_L2} ASC, b.vec_id ASC) AS rn
        FROM sl a JOIN sl b ON a.vec_id <> b.vec_id) t
      WHERE rn <= {_MOD_K}),
    edges AS (
      SELECT LEAST(_src, _dst) AS a, GREATEST(_src, _dst) AS b
      FROM nn GROUP BY 1, 2),
    m AS (SELECT COUNT(*) AS m FROM edges),
    ends AS (
      SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges),
    deg AS (SELECT v, COUNT(*) AS d FROM ends GROUP BY v),
    lab AS (SELECT vec_id, label FROM sl),
    dc AS (
      SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS d_c,
             CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg JOIN lab l ON l.vec_id = deg.v GROUP BY l.label),
    ec AS (
      SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM edges e
      JOIN lab la ON la.vec_id = e.a
      JOIN lab lb ON lb.vec_id = e.b AND lb.label = la.label
      GROUP BY la.label)
    SELECT dc.label, dc.n_nodes,
           CAST(COALESCE(ec.e_c, 0) AS BIGINT) AS intra_edges,
           dc.d_c AS degree_sum,
           ROUND(CAST(COALESCE(ec.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                 - (CAST(dc.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                   * (CAST(dc.d_c AS DOUBLE)
                      / (2.0 * CAST(m.m AS DOUBLE))), 6)
             AS modularity_contribution
    FROM dc LEFT JOIN ec ON ec.label = dc.label, m
    ORDER BY dc.label
    """,
)
def graph_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (public measure) of the CLASS-LABEL
    partition evaluated on the exact 3-NN embedding graph:
    Q_c = e_c/m − (d_c/2m)², summed over communities. Positive
    contributions mean labels cluster structurally (more intra-label
    edges than the degree-preserving null model expects) — the
    graph-structural twin of embedding_knn_label_eval's retrieval view,
    and the quality gate for using components/labels as dedup or
    curriculum groups. All counts exact integers; the two divisions per
    row run on identical operands both engines. Scale: the k-NN graph
    comes from the ANN tiers at corpus size (knn_graph_bucketed); the
    modularity fold itself is |labels|-bounded."""
    from server2_vector_search_server_spark.operators.graph import knn_graph

    sl = (tbl(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < _MOD_N)
          .select("vec_id", "embedding", "label")
          .localCheckpoint(eager=True))
    edges = knn_graph(sl, k=_MOD_K).localCheckpoint(eager=True)
    m = edges.count()
    ends = (edges.select(F.col("src").alias("v"))
            .unionByName(edges.select(F.col("dst").alias("v"))))
    deg = ends.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    lab = sl.select("vec_id", "label")
    dc = (deg.join(lab, deg["v"] == lab["vec_id"])
          .groupBy("label")
          .agg(F.sum("d").cast("long").alias("d_c"),
               F.count(F.lit(1)).cast("long").alias("n_nodes")))
    la = lab.select(F.col("vec_id").alias("src"),
                    F.col("label").alias("_la"))
    lb = lab.select(F.col("vec_id").alias("dst"),
                    F.col("label").alias("_lb"))
    ec = (edges.join(la, "src").join(lb, "dst")
          .filter(F.col("_la") == F.col("_lb"))
          .groupBy(F.col("_la").alias("label"))
          .agg(F.count(F.lit(1)).cast("long").alias("e_c")))
    half = F.col("d_c").cast("double") / (2.0 * float(m))
    return (dc.join(ec, "label", "left")
            .select("label", "n_nodes",
                    F.coalesce("e_c", F.lit(0)).cast("long")
                    .alias("intra_edges"),
                    F.col("d_c").alias("degree_sum"),
                    F.round(F.coalesce("e_c", F.lit(0)).cast("double")
                            / float(m) - half * half, 6)
                    .alias("modularity_contribution"))
            .orderBy("label"))


# ---------------------------------------------------------------------------
# GDPR erasure audit — physical right-to-be-forgotten verification

@query(
    "store_gdpr_erasure_audit",
    survey="store extension(right-to-be-forgotten lifecycle audit: "
           "logical delete hides a doc from the current snapshot but "
           "TIME TRAVEL still serves it — the audit proves that only "
           "delete + history expiry physically erases: target absent "
           "from every surviving manifest AND from every byte on disk, "
           "other docs byte-identical before/after)",
    oracle="""
    WITH final AS (
      SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_name, text AS content
      FROM documents WHERE doc_id < 30 AND doc_id <> 7),
    dig AS (
      SELECT md5(string_agg(md5(doc_name || '|' || md5(content)), ''
                            ORDER BY md5(doc_name || '|' || md5(content))))
               AS final_digest,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM final)
    SELECT c.check_name, c.ok, dig.n_docs, dig.final_digest
    FROM (VALUES
      ('deleted_doc_still_time_travelable_before_expiry', TRUE),
      ('erased_from_current_read', TRUE),
      ('erased_from_every_surviving_version', TRUE),
      ('erased_from_every_data_file_on_disk', TRUE),
      ('history_versions_purged', TRUE))
      c(check_name, ok), dig
    ORDER BY c.check_name
    """,
)
def store_gdpr_erasure_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The erasure lifecycle the snapshot design makes SUBTLE: a logical
    delete (v2) rewrites only touched files, but v1's manifest still
    references the old bytes — ``read(version=1)`` serves the 'deleted'
    doc, which is correct snapshot isolation and a GDPR violation if it
    outlives the erasure deadline. Physical erasure = delete + history
    expiry; the audit then checks four things NO reader can conflate:
    the doc is gone from the current read, gone from every surviving
    manifest, gone from EVERY parquet byte still on disk (a direct
    os-walk scan UNDER the manifest layer — reachability arguments are
    not erasure proofs), and pre-expiry history is actually purged —
    while the other 29 docs hash byte-identical to the expected state.
    Scale: delete cost is touched-file-footprint (min/max file skipping
    finds them); expiry is the ref-aware GC measured in SCALE §51."""
    import os

    from server2_vector_search_server_spark.plans.registry import (
        scratch_dir,
    )
    from server2_vector_search_server_spark.sources.snapshots import (
        SnapshotChunkStore,
    )
    from server2_vector_search_server_spark.sources.store import (
        CHUNKS_SCHEMA,
    )

    store = SnapshotChunkStore(spark, scratch_dir("gdpr_store_"))
    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    name = F.concat(F.lit("doc_"), F.col("doc_id"))
    chunks = docs.select(
        F.md5(name).alias("chunk_id"), F.md5(name).alias("doc_id"),
        name.alias("doc_name"), F.lit(0).alias("chunk_index"),
        F.lit("col_a").alias("original_collection"),
        F.col("text").alias("content"),
        F.create_map(F.lit("source"), name).alias("metadata"),
        F.array(F.lit(0.1), F.lit(0.2)).cast("array<float>")
        .alias("embedding"),
        F.lit("col_a").alias("collection"))
    store.append(chunks)                                   # v1
    target = store.read().filter(F.col("doc_name") == "doc_7") \
                  .select("doc_id").first()["doc_id"]
    store.delete_document(target)                          # v2 (logical)
    time_travelable = (store.read(version=1)
                       .filter(F.col("doc_name") == "doc_7").count() == 1)
    store.expire(keep_last=1)                              # physical
    gone_current = (store.read()
                    .filter(F.col("doc_name") == "doc_7").count() == 0)
    gone_versions = all(
        store.read(version=v).filter(F.col("doc_name") == "doc_7")
        .count() == 0 for v in store.versions())
    # byte-level: scan EVERY parquet still on disk, below the manifests
    disk_files = [os.path.join(r, f)
                  for r, _, fs in os.walk(store.data_dir)
                  for f in fs if f.endswith(".parquet")]
    gone_disk = (spark.read.schema(CHUNKS_SCHEMA).parquet(*disk_files)
                 .filter(F.col("doc_name") == "doc_7").count() == 0)
    history_purged = store.versions() == [2]

    row_h = F.md5(F.concat_ws("|", "doc_name", F.md5("content")))
    dig = (store.read().withColumn("h", row_h)
           .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h"))))
                .alias("final_digest"),
                F.count(F.lit(1)).cast("long").alias("n_docs"))
           .first())
    checks = [
        ("deleted_doc_still_time_travelable_before_expiry",
         bool(time_travelable)),
        ("erased_from_current_read", bool(gone_current)),
        ("erased_from_every_surviving_version", bool(gone_versions)),
        ("erased_from_every_data_file_on_disk", bool(gone_disk)),
        ("history_versions_purged", bool(history_purged)),
    ]
    return (spark.createDataFrame(checks, "check_name string, ok boolean")
            .select("check_name", "ok",
                    F.lit(int(dig["n_docs"])).cast("long").alias("n_docs"),
                    F.lit(dig["final_digest"]).alias("final_digest"))
            .orderBy("check_name"))


# ---------------------------------------------------------------------------
# Bow-tie structure of the directed graph

_BT_EDGES_SQL = """
        SELECT p_partkey AS src, (p_partkey * 7 + 13) % 120 AS dst
        FROM part WHERE p_partkey < 120
        UNION ALL
        SELECT p_partkey AS src, p_partkey - 200 AS dst
        FROM part WHERE p_partkey >= 200 AND p_partkey < 240
        UNION ALL
        SELECT p_partkey - 300 AS src, p_partkey AS dst
        FROM part WHERE p_partkey >= 300 AND p_partkey < 340
"""


@query(
    "graph_bowtie_structure",
    survey="north-star graph analytics (Broder bow-tie decomposition: "
           "CORE = largest SCC, IN = reaches core, OUT = reached by "
           "core, OTHER — one reachability closure read forward and "
           "transposed; region sizes + id ranges hash-pinned vs the "
           "recursive-closure oracle, every derived CTE MATERIALIZED "
           "so DuckDB cannot re-expand the tie-broken core pick)",
    oracle=f"""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT src, dst FROM ({_BT_EDGES_SQL}) GROUP BY src, dst),
    nodes AS MATERIALIZED (
      -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB parses a CTE
      -- whose body is a top-level UNION as potentially-recursive and the
      -- UNION no longer dedups across branches (every node came out
      -- twice; the sibling graph oracles only survive this because their
      -- downstream aggregates collapse duplicates)
      SELECT DISTINCT v FROM (
        SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
    walk(s, node) AS (
      SELECT v AS s, v AS node FROM nodes
      UNION
      SELECT w.s, e.dst AS node FROM walk w JOIN e ON e.src = w.node),
    wk AS MATERIALIZED (SELECT s, node FROM walk),
    mutual AS MATERIALIZED (
      SELECT a.s AS v, a.node AS u
      FROM wk a JOIN wk b ON b.s = a.node AND b.node = a.s),
    scc AS MATERIALIZED (
      SELECT v AS node, MIN(u) AS scc_id FROM mutual GROUP BY v),
    core_pick AS MATERIALIZED (
      SELECT scc_id FROM (
        SELECT scc_id, COUNT(*) AS n,
               row_number() OVER (ORDER BY COUNT(*) DESC, scc_id ASC)
                 AS rn
        FROM scc GROUP BY scc_id) t WHERE rn = 1),
    core AS MATERIALIZED (
      SELECT node FROM scc WHERE scc_id = (SELECT scc_id FROM core_pick)),
    reaches_core AS MATERIALIZED (
      SELECT DISTINCT w.s AS node FROM wk w
      JOIN core c ON c.node = w.node),
    core_reaches AS MATERIALIZED (
      SELECT DISTINCT w.node FROM wk w
      JOIN core c ON c.node = w.s),
    labeled AS (
      SELECT n.v AS node,
             CASE WHEN n.v IN (SELECT node FROM core) THEN 'CORE'
                  WHEN n.v IN (SELECT node FROM reaches_core) THEN 'IN'
                  WHEN n.v IN (SELECT node FROM core_reaches) THEN 'OUT'
                  ELSE 'OTHER' END AS region
      FROM nodes n)
    SELECT region, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM labeled GROUP BY region ORDER BY region
    """,
)
def graph_bowtie_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``operators/graph.bowtie_decomposition`` over a constructed
    three-region graph: a 120-node modular subgraph whose LARGEST SCC is
    the core (the modular successor map fractures into several 12-cycles
    — largest + min-id tie-break picks one deterministically), 40 feeder
    nodes (200-239) each pointing INTO nodes 0-39, and 40 drain nodes
    (300-339) each pointed at BY nodes 0-39. The web's macro-structure
    (Broder et al. 2000) as a corpus diagnostic — link farms sit in
    dense COREs, orphaned content in OTHER. Note most of the 120 modular
    nodes land in IN/OUT/OTHER relative to the one chosen core cycle —
    the decomposition is relative to THE core, which is the point.
    Oracle gotcha (bit twice now): DuckDB inlines CTEs by default, and
    re-expanding the tie-broken core pick inside the three CASE
    subqueries produced a DIFFERENT core per branch — every derived CTE
    is AS MATERIALIZED."""
    from server2_vector_search_server_spark.operators.graph import (
        bowtie_decomposition,
    )

    part = tbl(spark, sf_dir, "part")
    e1 = (part.filter(F.col("p_partkey") < 120)
          .select(F.col("p_partkey").alias("src"),
                  ((F.col("p_partkey") * 7 + 13) % 120).alias("dst")))
    e2 = (part.filter((F.col("p_partkey") >= 200)
                      & (F.col("p_partkey") < 240))
          .select(F.col("p_partkey").alias("src"),
                  (F.col("p_partkey") - 200).alias("dst")))
    e3 = (part.filter((F.col("p_partkey") >= 300)
                      & (F.col("p_partkey") < 340))
          .select((F.col("p_partkey") - 300).alias("src"),
                  F.col("p_partkey").alias("dst")))
    edges = e1.unionByName(e2).unionByName(e3)
    regions = bowtie_decomposition(edges)
    return (regions.groupBy("region")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.min("node").cast("long").alias("min_node"),
                 F.max("node").cast("long").alias("max_node"))
            .orderBy("region"))


# ---------------------------------------------------------------------------
# Dataset card — the one-artifact corpus report

@query(
    "curation_dataset_card_report",
    survey="north-star curation governance (dataset card: per-language "
           "row counts and corpus shares, exact length median per "
           "language, exact-duplicate rate, mean quality proxy — the "
           "one-artifact report a released training corpus ships with, "
           "folded from one scan + one md5 dup aggregate)",
    oracle="""
    WITH base AS (
      SELECT lang, n_chars, md5(text) AS h,
             length(text) - length(replace(text, ' ', '')) + 1
               AS n_tokens_ws
      FROM documents),
    n AS (SELECT COUNT(*) AS n FROM base),
    dup AS (
      SELECT SUM(c - 1) AS n_dup_rows FROM (
        SELECT h, COUNT(*) AS c FROM base GROUP BY h) t),
    med AS (
      SELECT lang, n_chars, row_number() OVER (
               PARTITION BY lang ORDER BY n_chars, h) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM base)
    SELECT b.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
             AS corpus_share,
           CAST(SUM(b.n_chars) AS BIGINT) AS total_chars,
           CAST((SELECT m.n_chars FROM med m
                 WHERE m.lang = b.lang
                   AND m.rn = CAST(CEIL(m.cnt / 2.0) AS BIGINT))
                AS BIGINT) AS median_chars,
           ROUND(CAST(SUM(b.n_tokens_ws) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_ws_tokens,
           ROUND(CAST(dup.n_dup_rows AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
             AS corpus_dup_rate
    FROM base b, n, dup
    GROUP BY b.lang, n.n, dup.n_dup_rows
    ORDER BY b.lang
    """,
)
def curation_dataset_card_report(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The dataset card (Gebru et al., Datasheets for Datasets — public
    practice): the per-language composition table a released corpus ships
    with. One base scan feeds everything: language shares, total/median
    length (median = exact ceil(n/2) order statistic per language,
    md5 tie-break so duplicated lengths rank deterministically),
    whitespace-token mean, and the corpus-wide exact-duplicate rate
    (Σ(group−1)/n over md5 groups) repeated per row as release metadata.
    At 100 TB every piece is partial-aggregable except the per-language
    median, which runs a per-LANGUAGE window (bounded partitions) — or
    swaps to the two-phase percentile recipe (SCALE §50) when a single
    language dominates."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    base = (docs.select(
                "lang", "n_chars", F.md5("text").alias("h"),
                (F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(" "),
                                      F.lit(""))) + 1)
                .alias("n_tokens_ws"))
            .localCheckpoint(eager=True))
    n = base.count()
    n_dup = (base.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
             .agg(F.sum(F.col("c") - 1).alias("d")).first()["d"])
    med = (base.withColumn(
               "rn", F.row_number().over(
                   Window.partitionBy("lang").orderBy("n_chars", "h")))
           .withColumn("cnt", F.count(F.lit(1)).over(
               Window.partitionBy("lang")))
           .filter(F.col("rn") == F.ceil(F.col("cnt") / 2.0).cast("long"))
           .select("lang", F.col("n_chars").alias("median_chars")))
    agg = (base.groupBy("lang")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.round(F.sum("n_tokens_ws").cast("double")
                        / F.count(F.lit(1)).cast("double"), 6)
                .alias("mean_ws_tokens")))
    return (agg.join(med, "lang")
            .select("lang", "n_docs",
                    F.round(F.col("n_docs").cast("double") / float(n), 6)
                    .alias("corpus_share"),
                    "total_chars",
                    F.col("median_chars").cast("long").alias("median_chars"),
                    "mean_ws_tokens",
                    F.round(F.lit(float(n_dup)) / float(n), 6)
                    .alias("corpus_dup_rate"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Split-conformal upper bound on event value (distribution-free coverage)

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10      # 1 - alpha = 9/10, exact ints


@query(
    "events_conformal_value_bound",
    survey="quality extension(split-conformal prediction: the exact "
           "k = ceil((n+1)(1-alpha)) order statistic of a calibration "
           "split as a distribution-free upper bound, with realized "
           "coverage measured on the disjoint test split — the "
           "finite-sample-guaranteed eval-family member next to "
           "isotonic / ROC-AUC / nDCG)",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id % 2 = 0 AND value IS NOT NULL),
    tst AS (
      SELECT CAST(value AS DOUBLE) AS v FROM events
      WHERE event_id % 2 = 1 AND value IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    kk AS (
      SELECT n_cal,
             CAST(({_CONF_ALPHA_NUM} * (n_cal + 1)
                   + {_CONF_ALPHA_DEN} - 1) // {_CONF_ALPHA_DEN}
                  AS BIGINT) AS k
      FROM n),
    vals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY v),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vals),
    thr AS (
      SELECT kk.n_cal, kk.k, MIN(cum.v) AS threshold
      FROM cum, kk WHERE cum.cum >= LEAST(kk.k, kk.n_cal)
      GROUP BY kk.n_cal, kk.k),
    tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM tst)
    SELECT t.n_cal, t.k,
           ROUND(t.threshold, 6) AS threshold,
           tn.n_test,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tst
            WHERE tst.v <= t.threshold) AS n_covered,
           ROUND(CAST((SELECT COUNT(*) FROM tst
                       WHERE tst.v <= t.threshold) AS DOUBLE)
                 / tn.n_test, 6) AS coverage
    FROM thr t, tn
    """,
)
def events_conformal_value_bound(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Vovk et al.; Lei et al. 2018, public):
    the k-th smallest calibration value with k = ceil((n+1)(1−α)) is a
    distribution-free upper bound whose coverage on exchangeable data is
    ≥ 1−α by a counting argument — no model, no distributional
    assumption. This is the eval-family member with a FINITE-SAMPLE
    guarantee, the certificate a data pipeline wants on "values above X
    are anomalies".

    Exactness: k is computed in pure integer arithmetic
    (ceil(a/b) = (a + b − 1) // b — no float ever touches the rank); the
    threshold is an exact ELEMENT of the data (selected via cumulative
    counts over the DISTINCT-value spine, the bounded-spine pattern of
    ``events_roc_auc_daily`` — no global row sort); realized coverage
    counts exact comparisons against that element. NULL values filtered
    on both sides (the r7 NULLS FIRST/LAST lesson). Scale shape: two
    corpus scans (calibration counts, test coverage count), a window
    over distinct values only, everything else one-row arithmetic."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cal = (ev.filter(F.col("event_id") % 2 == 0)
           .select(F.col("value").cast("double").alias("v")))
    tst = (ev.filter(F.col("event_id") % 2 == 1)
           .select(F.col("value").cast("double").alias("v")))
    from pyspark.sql import Window

    kdf = (cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
           .select("n_cal",
                   F.expr(f"CAST(({_CONF_ALPHA_NUM} * (n_cal + 1) "
                          f"+ {_CONF_ALPHA_DEN} - 1) "
                          f"DIV {_CONF_ALPHA_DEN} AS BIGINT)").alias("k")))
    vals = cal.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select("v", F.sum("c").over(w).alias("cum"))
    thr = (cum.crossJoin(F.broadcast(kdf))
           .filter(F.col("cum") >= F.least(F.col("k"), F.col("n_cal")))
           .groupBy("n_cal", "k").agg(F.min("v").alias("threshold")))
    tn = tst.agg(F.count(F.lit(1)).cast("long").alias("n_test"))
    covered = (tst.crossJoin(F.broadcast(thr))
               .filter(F.col("v") <= F.col("threshold"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_covered")))
    return (thr.crossJoin(F.broadcast(tn)).crossJoin(F.broadcast(covered))
            .select("n_cal", "k",
                    F.round("threshold", 6).alias("threshold"),
                    "n_test", "n_covered",
                    F.round(F.col("n_covered").cast("double")
                            / F.col("n_test"), 6).alias("coverage")))


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift statistic, exact integer argmax

@query(
    "events_ks_two_sample_drift",
    survey="quality extension(two-sample Kolmogorov-Smirnov statistic "
           "between the calibration/test value splits: sup|ECDF1-ECDF2| "
           "located by the EXACT integer cross-product "
           "|c1*n2 - c2*n1| over the distinct-value spine — the "
           "distribution-level drift test completing chi-square (counts) "
           "and PSI (shares))",
    oracle="""
    WITH e AS (
      SELECT CAST(value AS DOUBLE) AS v, event_id % 2 = 0 AS is_a
      FROM events WHERE value IS NOT NULL),
    n AS (
      SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM e),
    per AS (
      SELECT v,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS b
      FROM e GROUP BY v),
    cum AS (
      SELECT v, SUM(a) OVER (ORDER BY v) AS c1,
             SUM(b) OVER (ORDER BY v) AS c2
      FROM per),
    diff AS (
      SELECT cum.v, ABS(CAST(cum.c1 * n.n2 - cum.c2 * n.n1 AS BIGINT))
               AS num
      FROM cum, n)
    SELECT n.n1, n.n2,
           (SELECT MAX(num) FROM diff) AS ks_num,
           CAST(n.n1 * n.n2 AS BIGINT) AS ks_den,
           ROUND(CAST((SELECT MAX(num) FROM diff) AS DOUBLE)
                 / (n.n1 * n.n2), 6) AS ks_stat,
           ROUND((SELECT MIN(v) FROM diff
                  WHERE num = (SELECT MAX(num) FROM diff)), 6)
             AS ks_at_value
    FROM n
    """,
)
def events_ks_two_sample_drift(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the even/odd
    event_id splits of ``value``: D = sup_v |F1(v) − F2(v)|. Every float
    pitfall of the textbook form is eliminated by clearing denominators —
    the supremum is the max of the EXACT integers |c1(v)·n2 − c2(v)·n1|
    over the distinct-value spine, so the argmax location (earliest value
    on ties) and the reported rational (ks_num/ks_den) are hash-stable;
    only the final display ratio divides. Completes the drift-monitor
    family: chi-square (categorical counts), PSI (share magnitude), KS
    (full distribution shape). Scale shape: one scan to per-value counts,
    cumulative windows over the bounded DISTINCT-value spine (the
    ``events_roc_auc_daily`` pattern — never a global row sort), one-row
    arithmetic after."""
    from pyspark.sql import Window

    e = (tbl(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select(F.col("value").cast("double").alias("v"),
                 (F.col("event_id") % 2 == 0).alias("is_a")))
    n = e.agg(
        F.sum(F.col("is_a").cast("int")).cast("long").alias("n1"),
        F.sum((~F.col("is_a")).cast("int")).cast("long").alias("n2"))
    per = (e.groupBy("v")
           .agg(F.sum(F.col("is_a").cast("int")).cast("long").alias("a"),
                F.sum((~F.col("is_a")).cast("int")).cast("long")
                .alias("b")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select("v", F.sum("a").over(w).alias("c1"),
                     F.sum("b").over(w).alias("c2"))
    diff = (cum.crossJoin(F.broadcast(n))
            .select("v", F.abs(F.col("c1") * F.col("n2")
                               - F.col("c2") * F.col("n1"))
                    .cast("long").alias("num")))
    mx = diff.agg(F.max("num").cast("long").alias("ks_num"))
    at = (diff.crossJoin(F.broadcast(mx))
          .filter(F.col("num") == F.col("ks_num"))
          .agg(F.min("v").alias("at_v")))
    return (n.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(at))
            .select("n1", "n2", "ks_num",
                    (F.col("n1") * F.col("n2")).cast("long").alias("ks_den"),
                    F.round(F.col("ks_num").cast("double")
                            / (F.col("n1") * F.col("n2")), 6)
                    .alias("ks_stat"),
                    F.round(F.col("at_v"), 6).alias("ks_at_value")))


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend (skew monitor, exact rank arithmetic)

@query(
    "customer_spend_gini",
    survey="quality extension(Gini coefficient + top-decile share of "
           "per-customer spend via the exact rank identity "
           "G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over cents — the "
           "inequality/skew monitor that quantifies the hot-key problem "
           "the partitioning sections reason about)",
    oracle="""
    WITH spend AS (
      SELECT c_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey),
    ranked AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS BIGINT)
               AS i
      FROM spend),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(i * cents) AS BIGINT) AS weighted
      FROM ranked),
    top AS (
      SELECT CAST(SUM(r.cents) AS BIGINT) AS top_cents
      FROM ranked r, agg WHERE r.i > agg.n - agg.n // 10)
    SELECT agg.n AS n_customers, agg.total AS total_cents,
           ROUND(2.0 * agg.weighted / (agg.n * CAST(agg.total AS DOUBLE))
                 - CAST(agg.n + 1 AS DOUBLE) / agg.n, 6) AS gini,
           ROUND(CAST(top.top_cents AS DOUBLE) / agg.total, 6)
             AS top_decile_share
    FROM agg, top
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend via the rank identity
    G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n (ascending sort, custkey
    tie-break so the rank is total) plus the top-decile spend share —
    the standard inequality summary, and operationally the SKEW monitor:
    this number IS the hot-key severity the salting/AQE sections of
    SCALE.md reason about, measured instead of assumed.

    Exactness: spend folds to exact cents; Σ i·x and the top-decile cut
    (i > n − n//10, pure integer) stay in BIGINTs; the two final ratios
    divide exact operands once. The rank window runs over the CUSTOMER
    dimension (bounded — never the order fact table); at 100 TB the same
    identity computes with a two-phase rank (per-partition counts then
    offset) if the dimension itself outgrows one window, which is the
    documented path, not an assumption."""
    from pyspark.sql import Window

    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    spend = (orders.join(cust, orders.o_custkey == cust.c_custkey)
             .groupBy("c_custkey")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                  .cast("long").alias("cents")))
    w = Window.orderBy("cents", "c_custkey")
    ranked = spend.select(
        "cents", F.row_number().over(w).cast("long").alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"))
    top = (ranked.crossJoin(F.broadcast(agg))
           .filter(F.col("i") > F.col("n") - F.expr("n DIV 10"))
           .agg(F.sum("cents").cast("long").alias("top_cents")))
    return (agg.crossJoin(F.broadcast(top))
            .select(F.col("n").alias("n_customers"),
                    F.col("total").alias("total_cents"),
                    F.round(2.0 * F.col("weighted")
                            / (F.col("n") * F.col("total").cast("double"))
                            - (F.col("n") + 1).cast("double") / F.col("n"),
                            6).alias("gini"),
                    F.round(F.col("top_cents").cast("double")
                            / F.col("total"), 6)
                    .alias("top_decile_share")))


# ---------------------------------------------------------------------------
# Benford first-digit forensics on order totals

import math as _math

# one source of truth for the Benford expectation, emitted as literals
# into BOTH engines (log10 is transcendental — never computed at runtime
# on either side, so there is nothing to drift)
_BENFORD_EXP = {d: round(_math.log10(1 + 1 / d), 9) for d in range(1, 10)}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {_BENFORD_EXP[d]}" for d in range(1, 10))


@query(
    "orders_benford_first_digit",
    survey="quality extension(Benford first-digit forensics on order "
           "totals: digit extracted from the exact-cents STRING — no "
           "log10 at runtime on either engine, expectations baked as "
           "shared literals; the classic fabricated-data / unit-mixup "
           "monitor)",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM cents),
    per AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM per)
    SELECT p.digit, p.n_obs,
           ROUND(CAST(p.n_obs AS DOUBLE) / t.n, 6) AS obs_share,
           CASE p.digit {_BENFORD_CASE} END AS exp_share,
           CAST(ROUND((CAST(p.n_obs AS DOUBLE) / t.n
                       - CASE p.digit {_BENFORD_CASE} END)
                      * 1000000) AS BIGINT) AS dev_micro
    FROM per p, tot t ORDER BY p.digit
    """,
)
def orders_benford_first_digit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals (Newcomb 1881 /
    Benford 1938; Nigrini's forensic-accounting standard): genuine
    multi-scale monetary data leads with digit d at probability
    log10(1+1/d), and departures flag fabricated values, unit mix-ups,
    or truncation bugs upstream — a one-scan data-forensics monitor for
    an ingest pipeline. Engineering choices for parity: the digit comes
    from the first character of the exact-cents INTEGER rendered as a
    string (no log10/pow at runtime anywhere), and the expected shares
    are Python-computed literals emitted into BOTH the Spark plan and
    the oracle SQL — one source of truth, zero transcendental drift.
    Per-digit deviation is reported in micro-units for exact folding.
    Scale shape: one scan, one 9-row aggregate."""
    cents = (tbl(spark, sf_dir, "orders")
             .filter(F.col("o_totalprice") > 0)
             .select(F.round(F.col("o_totalprice") * 100).cast("long")
                     .alias("c")))
    per = (cents.select(F.substring(F.col("c").cast("string"), 1, 1)
                        .cast("int").alias("digit"))
           .groupBy("digit").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_obs")))
    tot = per.agg(F.sum("n_obs").cast("long").alias("n"))
    exp = F.create_map(
        *[F.lit(x) for d in range(1, 10)
          for x in (d, _BENFORD_EXP[d])])[F.col("digit")]
    joined = per.crossJoin(F.broadcast(tot))
    obs_share = F.col("n_obs").cast("double") / F.col("n")
    return (joined.select(
        "digit", "n_obs",
        F.round(obs_share, 6).alias("obs_share"),
        exp.alias("exp_share"),
        F.round((obs_share - exp) * 1_000_000).cast("long")
        .alias("dev_micro"))
        .orderBy("digit"))
