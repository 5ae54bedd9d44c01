"""Benchmark harness — the driver's per-round performance gate.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized with a ``noop``-format write so the measured
time is end-to-end plan execution (scan → shuffle → result) with no driver
collect bottleneck — the same thing that matters on a real cluster. Each
query runs ``$SPARK_GRAFT_BENCH_REPEATS`` (default 3) times and reports the
MEDIAN: steady-state execution, with one-time expression codegen (Janino
compile, not data-dependent) amortized out and single-shot machine-load noise
(±30% observed) suppressed. Repeats are INTERLEAVED — the whole pillar list
runs ``repeats`` times (each pass rotated) and the median is taken across
passes — so a transient loaded minute on this shared box degrades one sample
of many pillars instead of all samples of one pillar (the r06
``search_score_topk`` 2.693× false flag). Per-run times go to stderr;
``value`` is the sum of medians.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpu_reference_sec() -> float:
    """Single-thread CPU reference: SHA-256 over 64 MB, best of 3.

    A fixed amount of work whose wall time measures THIS machine+moment's
    effective single-core speed. SCALE.md §59: the r6→r7 quiet-geomean
    'drift' (0.847→1.065) was entirely environmental — the box was ~1.3×
    slower during r7 and ~2.6× slower in round 8 — but no bench artifact
    carried a calibration constant, so the slowdown read as a code
    regression until a checkout-interleaved A/B disproved it. This number
    makes cross-round artifacts normalizable: compare
    value_a / cpu_ref_a against value_b / cpu_ref_b before suspecting
    the code. (Best-of-3 biases toward the UNLOADED speed; the loadavg
    field below captures contention at run time.)"""
    import hashlib

    blob = b"\x5a" * (1 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(blob)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)

# Headline queries: one per capability pillar (vector search, catalog,
# relational agg/join, event-time, dedup, ANN, text analytics). Names must
# exist in the plans registry.
HEADLINE = [
    "search_score_topk",        # reference /search_score contract
    "search_filtered_knn",      # filtered kNN (predicate pushdown + top-k)
    "search_multi_query_knn",   # many-queries kNN (broadcast + window top-k)
    "list_documents",           # catalog aggregation
    "pricing_summary",          # TPC-H Q1-shaped scan+agg
    "revenue_by_nation",        # multi-join + agg (broadcast dims)
    "top_orders_per_customer",  # window top-k over join
    "events_hourly_rollup",     # event-time tumbling rollup
    "dedup_exact",              # exact dedup (hash groupBy)
    "dedup_minhash_lsh",        # MinHash+LSH near-dup (band bucket join)
    # r5: pillar re-pointed from the exact-crossJoin `dedup_embedding_cosine`
    # (kept as the registry's bounded verification oracle) to the sign-LSH
    # scale path, so the headline bench exercises only 100 TB-shaped plans
    # (VERDICT r4 item 4); dedup_cosine_lsh_quality_eval pins recall.
    "dedup_embedding_cosine_lsh",  # embedding near-dup (multi-table sign-LSH)
    "text_token_stats",         # tokenization / text analytics
    "text_quality_scores",      # quality scoring pipeline
    "ann_ivf_knn",              # IVF ANN (centroid prune + local top-k)
    "fulltext_contains",        # B7 $contains predicate scan
    "events_session_window",    # session windows (stateful shape, batch twin)
    "rollup_revenue",           # grouping-sets rollup + broadcast dims
    "orders_with_late_shipment",  # EXISTS left-semi with non-equi condition
    "multimodal_image_features",  # Arrow mapInPandas binary pipeline
    "streaming_wal_replay",     # readStream -> foreachBatch merge end-to-end
    "events_asof_join",         # merge-asof via carry-forward window
    "events_range_join_counts",  # bucketed range join (no nested loop)
    "text_tfidf_top_terms",     # TF-IDF: two shuffles + vocabulary join
    "order_value_percentiles",  # exact interpolated percentiles per group
    "ann_hyperplane_multiprobe_knn",  # multi-probe sign-LSH
    "ann_sq8_knn",              # int8-quantized ranking + exact rescore
    "ann_pq_knn",               # product-quantization lookup ranking
    "ann_ivf_pq_knn",           # composed IVF cell pruning + PQ ranking
    "large_volume_orders",      # HAVING over grouped fact + join-back (Q18)
    "nation_pair_volume",       # dual role-joins of one dimension (Q7)
    "dedup_component_groups",   # iterative connected components over pairs
    "hash_sample_documents",    # value-deterministic content-hash split
    "nation_market_share",      # 5-broadcast-dim conditional share (Q8)
    "customer_order_distribution",  # outer-join count-of-counts (Q13)
    "waiting_suppliers",        # pair pre-agg dual-EXISTS rewrite (Q21)
    # NOTE: the headline total grows when pillars are ADDED — compare
    # per-query medians across rounds, not the sum alone.
    "text_bm25_topk",           # BM25 ranked lexical retrieval
    "search_hybrid_rrf",        # hybrid vector+lexical RRF fusion
    "search_maxsim_late_interaction",  # multi-vector ColBERT maxsim
    "graph_pagerank",           # iterative: cached edges + broadcast ranks
    "events_funnel_conversion",  # ordered multi-stage funnel
    "events_cohort_retention",  # weekly cohort retention triangle
    "text_contamination_overlap",  # broadcast 8-gram decontamination
    "dedup_semantic",           # SemDeDup cluster-then-prune cosine dedup
    "text_gopher_rules",        # Gopher rule-based quality filter
    "dedup_boilerplate_lines",  # C4 line-level dedup + reassembly
    "kmeans_lloyd_assignments",  # two-iteration distributed Lloyd's k-means
    "events_ewma_by_user",      # applyInPandas per-entity sequential fold
    "streaming_incremental_rollup",  # IVM: partial-agg append + merge-on-read
    "ann_ivf_batch_knn",        # batched IVF serving: one scan, N queries
    "ann_ivf_batch_indexed_knn",  # DPP-pruned batch serving on the index
    "streaming_stream_stream_join",  # dual-watermark interval join
    "dedup_minhash_keep_min",   # pairs-free bucket-min fuzzy dedup
    "text_sequence_packing_distributed",  # two-pass prefix-sum packing
    "ann_matryoshka_knn",       # truncated-prefix funnel + exact rescore
    "ann_binary_hamming_knn",   # 1-bit sign pack, XOR+popcount ranking
    "events_hll_distinct_rollup",  # HLL sketches + hll_union_agg rollup
    "events_concurrency_sweep",  # sweep-line interval overlap (prefix sum)
    "text_dsir_importance",     # DSIR hashed-unigram importance weights
    "dedup_simhash",            # Manku-blocked SimHash pairs (round 4)
    "graph_pagerank_shuffle",   # big-graph PageRank branch (round 4)
    "dedup_substring_spans",    # ExactSubstr windowed span dedup (round 4)
    "embedding_hard_negatives",  # contrastive negative mining (round 4)
    "embedding_knn_label_eval",  # kNN embedding-quality probe (round 4)
    "text_bpe_train_merges",    # iterative BPE training rounds (round 4)
    "dedup_jaccard_prefix_filter",  # lossless AllPairs set join (round 4)
    "ann_pca_knn",              # PCA-rotation funnel, MLlib fit (round 5)
    "text_winnowing_overlap_pairs",  # MOSS fingerprint equi-join (round 5)
    "dedup_tfidf_cosine_pairs",  # sparse DAAT cosine all-pairs (round 5)
    "dedup_cdc_chunks",         # content-defined chunk dedup (round 5)
    "graph_adamic_adar_links",  # degree-capped neighbor-key link pred (r5)
    "lineitem_bloom_join_prune",  # explicit runtime-filter join gate (r5)
    "multimodal_audio_fingerprint_match",  # landmark-hash vote match (r5)
    "events_attribution_credit",  # ignore-nulls window attribution (r5)
    "geo_radius_supplier_coverage",  # grid-cell spatial radius join (r5)
    "events_hourly_autocorrelation",  # bounded-spine ACF self-join (r5)
    "events_lossy_counting",    # bounded-state frequent-items fold (r5)
    "events_shapley_attribution",  # exact coalition attribution (r5)
    "graph_betweenness_centrality",  # 13-round Brandes fwd/bwd BFS (r6)
    "events_matrix_profile_motif",  # bounded all-pairs z-norm motif (r6)
    "dedup_shingle_containment",  # df-capped containment verify (r6)
    "lineitem_two_phase_percentile",  # histogram + pruned refine (r6)
    "events_seasonal_decompose",  # per-type MA decompose (r6)
    "geo_zonal_raster_stats",   # raster x vector tile equi-join (r7)
    "graph_kcore_influential_communities",  # k-core peel + CC rank (r7)
    "text_kneser_ney_bigrams",  # distributed LM counts + KN prob (r8)
    "multimodal_audio_wav_roundtrip",  # real stdlib WAV decode path (r8)
    "multimodal_image_bmp_roundtrip",  # real stdlib BMP decode path (r8)
    "multimodal_video_gif_frames",     # real GIF container parse (r8)
    "multimodal_audio_vad_segments",   # energy VAD + islands merge (r9)
    "embedding_facility_location_coreset",  # submodular coreset (r9)
    "streaming_kll_quantile_rollup",   # incremental KLL quantiles (r9)
    "graph_butterfly_count",           # bipartite 4-cycle wedge join (r9)
    "events_survival_km",              # KM survival over gap durations (r9)
    "events_sax_words",                # SAX symbolic series via z-PAA (r9)
    "events_spectral_peak_hourly",     # DFT power, dense hourly spine (r9)
    "multimodal_image_png_roundtrip",  # real stdlib PNG decode path (r9)
    "store_bucketed_join_colocation",  # exchange-free bucketed SMJ (r9c)
    "events_cuped_variance_reduction",  # CUPED cross-moment reduce (r9c)
    "events_fdr_bh_adjust",            # 120-cell z family + BH step-up (r9c)
    "geo_point_in_polygon_join",       # integer ray-cast zone join (r9c)
    "events_gpd_tail_pwm",             # EVT tail fit, PWM closed form (r9c)
    "text_burrows_delta_sources",      # stylometric source-pair panel (r9c)
    "store_delta_log_time_travel",     # delta-protocol fold + 2 scans (r9c)
    "events_yuen_trimmed_t",           # robust trimmed t, rank overlaps (r9c)
]


def _load_baseline() -> tuple[str, dict[str, float]] | None:
    """Most recent driver-recorded BENCH_r{N}.json — the 'within 2× of
    baseline' gate is then machine-checkable per query instead of inferred
    from totals (VERDICT r02 item 5). The driver wraps bench output under
    'parsed'; raw one-line output is accepted too."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)))
    for path in reversed(candidates):
        try:
            with open(path) as fh:
                doc = json.load(fh)
            parsed = doc.get("parsed", doc)
            queries = parsed.get("queries")
            if queries:
                return os.path.basename(path), {
                    k: float(v) for k, v in queries.items()}
        except Exception:
            continue
    return None


def time_pillars(spark, registry, names: list[str], sf_dir: str,
                 repeats: int) -> dict[str, float]:
    """Median wall per pillar, each run built and written to the noop sink.

    Repeats are INTERLEAVED across pillars (VERDICT r06 item 1): the old
    per-pillar consecutive repeats meant one loaded minute of ambient
    co-tenant CPU landed entirely on whichever pillar was running and
    inflated all three of its samples — search_score_topk's 2.693× artifact
    flag in BENCH_r06.json was exactly that (its quiet value was 0.509 s).
    Running the WHOLE pillar list ``repeats`` times and taking the
    per-pillar median ACROSS passes spreads any loaded minute over many
    pillars' single samples, where the cross-pass median absorbs it. Each
    pass also rotates its starting pillar so fixed per-position costs
    (e.g. post-warmup first-query residue) never pin to one pillar. Names
    missing from ``registry`` are skipped.
    """
    pillars = [(name, registry.get(name)) for name in names]
    pillars = [(n, rq) for n, rq in pillars if rq is not None]
    samples: dict[str, list[float]] = {n: [] for n, _ in pillars}
    for p in range(repeats):
        rot = (p * len(pillars)) // max(repeats, 1)
        order = pillars[rot:] + pillars[:rot]
        for name, rq in order:
            t0 = time.perf_counter()
            df = rq.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            # queries that persist() intermediates (minhash, cosine) would
            # pile up cache entries across repeats — each repeat builds fresh
            # DataFrames, so dropping the cache never removes reused data
            spark.catalog.clearCache()
    timings: dict[str, float] = {}
    for name, _ in pillars:
        runs = samples[name]
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        print(f"  {name}: {timings[name]}s (passes: "
              f"{[round(r, 2) for r in runs]})", file=sys.stderr)
    return timings


def main() -> None:
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    cal_pre = (_cpu_reference_sec(), round(os.getloadavg()[0], 2))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    # Warm-up outside the timed region: JVM codegen, parquet reader path,
    # shuffle machinery, and the noop sink — so query 1 doesn't absorb
    # one-time init costs that say nothing about plan quality.
    warm = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    warm.join(warm.selectExpr("r_regionkey as k"),
              warm.r_regionkey == F.col("k")) \
        .groupBy("r_name").count() \
        .write.format("noop").mode("overwrite").save()
    # Silver artifacts are maintained by the ingest pipeline, not the
    # query path (VERDICT r8 #3: persisted, pre-aggregated at write time)
    # — (re)build them outside the timed region so a regenerated-testdata
    # first sample doesn't absorb a build that serving never pays.
    from server2_vector_search_server_spark.plans.graph_queries import (
        shipment_silver,
    )
    shipment_silver(spark, SF_DIR)

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings = time_pillars(spark, registry, HEADLINE, SF_DIR, repeats)

    sf = float(os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf") or 0)
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": repeats,
        "aggregation": "median",
        # environment calibration (SCALE.md §59): normalize across rounds
        # with value / cpu_ref before reading any drift as code. Sampled
        # BEFORE the loop and AFTER it — a spike that subsides before the
        # end (or starts after the start) still shows in one of the pair
        # (code-review r8); disagreement between the two IS the signal
        # that the run was contended.
        "cpu_ref_pre": cal_pre[0],
        "cpu_ref_post": _cpu_reference_sec(),
        "loadavg_pre": cal_pre[1],
        "loadavg_post": round(os.getloadavg()[0], 2),
    }
    baseline = _load_baseline()
    if baseline is not None:
        base_name, base = baseline
        shared = sorted(set(timings) & set(base))
        ratios = {n: round(timings[n] / base[n], 3) for n in shared
                  if base[n] > 0}
        if ratios:
            import math

            geomean = math.exp(sum(math.log(r) for r in ratios.values())
                               / len(ratios))
            out["baseline"] = base_name
            out["vs_baseline_geomean"] = round(geomean, 3)
            out["vs_baseline_worst"] = max(ratios, key=ratios.get)
            # the explicit 2× gate, per query (noise margin: median-of-3
            # still swings; flag only clear breaches). Cap at the 10 worst:
            # on a loaded machine EVERY query can breach, and an unbounded
            # list would re-overflow the driver's tail capture — the full
            # table is in BENCH_COMPARE.json regardless.
            over = sorted((n for n, r in ratios.items() if r > 2.0),
                          key=lambda n: -ratios[n])
            out["over_2x_count"] = len(over)
            out["over_2x_baseline"] = over[:10]
            # Full per-query ratio table goes to a SIDE FILE, not stdout:
            # r3's stdout line carried all 52 ratios and overflowed the
            # driver's tail-capture window (BENCH_r03.json "parsed": null —
            # the recorded tail started mid-JSON). The stdout line must stay
            # compact enough to survive capture; the detail lands next to
            # the repo for humans/judge.
            try:
                here = os.path.dirname(os.path.abspath(__file__))
                with open(os.path.join(here, "BENCH_COMPARE.json"), "w") as fh:
                    json.dump({"baseline": base_name,
                               "vs_baseline": ratios,
                               "geomean": round(geomean, 3)}, fh, indent=1)
            except OSError:
                pass
    # The driver parses the LAST stdout line as JSON from a ~2,000-char
    # tail capture. The full per-query object is ~2,050 bytes and has
    # overflowed that window two rounds running (BENCH_r03/r04
    # "parsed": null). So: print the FULL object first (for humans and the
    # side file), then a compact summary — strictly < 1,900 bytes, no
    # per-query map — as the final line the driver actually parses. The
    # per-query detail is duplicated to BENCH_FULL.json on disk.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass
    sys.stderr.flush()
    print(json.dumps(out, separators=(",", ":")))
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "repeats": out["repeats"],
        "aggregation": out["aggregation"],
        "n_queries": len(timings),
        "queries_file": "BENCH_FULL.json",
    }
    # calibration fields MUST ride the compact summary — it is the only
    # line the driver records into BENCH_r{N}.json, and §59's cross-round
    # normalization needs them IN the recorded artifact (code-review r8)
    for key in ("cpu_ref_pre", "cpu_ref_post", "loadavg_pre",
                "loadavg_post", "baseline", "vs_baseline_geomean",
                "vs_baseline_worst", "over_2x_count"):
        if key in out:
            summary[key] = out[key]
    if "over_2x_baseline" in out:
        summary["over_2x_baseline"] = out["over_2x_baseline"][:5]
    line = json.dumps(summary, separators=(",", ":"))
    # The driver tails stdout with a bounded buffer; an oversized summary
    # line is exactly the failure this block exists to prevent, so shrink
    # deterministically BEFORE printing (never assert after the fact —
    # asserts vanish under -O and the bad line would already be out).
    while len(line) >= 1900 and summary.get("over_2x_baseline"):
        summary["over_2x_baseline"] = summary["over_2x_baseline"][:-1]
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) >= 1900:
        for k in ("over_2x_baseline", "vs_baseline_worst", "queries_file"):
            summary.pop(k, None)
            line = json.dumps(summary, separators=(",", ":"))
            if len(line) < 1900:
                break
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
