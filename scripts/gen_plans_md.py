"""Generate PLANS.md — the final physical plans of the headline pillars.

The working rule of this repo is "iterate until it's the plan you'd want,
not the first one that passed"; the plan AUDITS live in
tests/test_plan_audits.py, but the plans themselves were only visible by
re-running explain by hand. This script materializes each selected pillar
once (noop write, so AQE settles to its FINAL plan) and writes the
`EXPLAIN FORMATTED` output plus a per-pillar summary (exchanges,
whole-stage-codegen spans, broadcast joins, pushed filters / ReadSchema
pruning) to PLANS.md.

Run:  PYTHONPATH=/root/repo python scripts/gen_plans_md.py
      (uses $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.01 — plans at
      the driver's correctness scale; plan SHAPE is scale-invariant for
      these pillars except where AQE thresholds flip a join, which is
      exactly worth seeing)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# one per capability family — the plans a reviewer would actually read
PILLARS = [
    ("search_score_topk", "the reference /search_score contract: pushed "
     "filter + TakeOrderedAndProject, no global sort"),
    ("search_filtered_knn", "metadata-filtered kNN: Chroma $where compiled "
     "to Catalyst filters that reach the scan"),
    ("pricing_summary", "TPC-H Q1 shape: one scan, partial+final agg, "
     "column pruning to the 7 used columns"),
    ("revenue_by_nation", "multi-join rollup: every dimension broadcast, "
     "fact table never shuffled for a dim"),
    ("top_orders_per_customer", "window top-k over a join"),
    ("events_hourly_rollup", "event-time tumbling rollup"),
    ("dedup_exact", "hash-groupBy dedup: no sort, no window"),
    ("dedup_minhash_lsh", "MinHash band bucket equi-join: candidate "
     "generation is a shuffle on (band, key), never all-pairs"),
    ("dedup_embedding_cosine_lsh", "sign-LSH cosine near-dup: broadcast "
     "planes table, bucket self-equi-join, exact verify on candidates"),
    ("ann_ivf_knn", "IVF ANN: centroid prune then local top-k"),
    ("ann_ivf_batch_indexed_knn", "batched serving on the materialized "
     "index: dynamic partition pruning on probed cells"),
    ("text_tfidf_top_terms", "TF-IDF: two shuffles + vocabulary join"),
    ("graph_pagerank", "iterative: edge table materialized once, rounds "
     "join broadcast ranks"),
    ("text_contamination_overlap", "8-gram decontamination: broadcast "
     "bench n-grams, semi-join against the corpus"),
    ("lineitem_bloom_join_prune", "explicit runtime-filter join gate"),
    ("events_asof_join", "merge-asof via carry-forward window — no range "
     "explosion"),
    ("orders_with_late_shipment", "EXISTS as left-semi with a non-equi "
     "residual"),
    ("events_survival_km", "KM survival: corpus shuffle on user_id only; "
     "risk/step windows run over the duration-domain table"),
    ("events_spectral_peak_hourly", "DFT bins: ONE corpus scan into a "
     "checkpointed count table; trig table broadcast"),
    ("events_sax_words", "SAX: one user_id shuffle, 4 rows/user after; "
     "z/symbol arithmetic is a pure projection"),
    ("store_bucketed_join_colocation", "bucketed layout join: SMJ with "
     "ZERO Exchange/Sort below the join — both sides pre-hashed"),
    ("events_fdr_bh_adjust", "BH-FDR: one corpus scan into a checkpointed "
     "120-cell table; global moments derive from the cells"),
    ("geo_point_in_polygon_join", "ray-cast zone join: 13-edge broadcast, "
     "map-side crossing partials, no cartesian"),
    ("sql_pipe_syntax", "pipe-syntax dialect: identical physical plan to "
     "the classic GROUP BY form"),
]


def _final_tree(plan: str) -> str:
    """The executed plan TREE: for AQE plans the text between
    '== Final Plan ==' and '== Initial Plan =='; for exchange-free plans
    (no AdaptiveSparkPlan node) the tree before the operator details.
    Counting the details headers instead would double-count: the shared
    details section lists Initial-Plan-only operators too."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
        return plan
    return plan.split("\n\n", 1)[0]


def _ops(tree: str, name: str) -> int:
    # tree lines read "+- Exchange (10)" / "* Sort (13)" — match the
    # operator name followed by its id
    return len(re.findall(rf"\b{name}\b[^(\n]*\(\d+\)", tree))


def summarize(plan: str) -> dict:
    tree = _final_tree(plan)
    return {
        "exchanges": _ops(tree, "Exchange"),
        "broadcast_joins": _ops(tree, "BroadcastHashJoin"),
        "sortmerge_joins": _ops(tree, "SortMergeJoin"),
        "shuffledhash_joins": _ops(tree, "ShuffledHashJoin"),
        # formatted mode annotates operators with "[codegen id : N]" in
        # the details, which cover final-plan operators — count distinct
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        # BNLJ without a condition is how a deliberately tiny frame
        # (hyperplane table, bloom scalar) attaches to every row — count
        # it separately from a true CartesianProduct, which IS a bug
        "bnlj": _ops(tree, "BroadcastNestedLoopJoin"),
        "cartesian": "CartesianProduct" in tree,
        "topk": _ops(tree, "TakeOrderedAndProject"),
        # exchange-free plans have no AdaptiveSparkPlan node at all, so
        # the isFinalPlan marker is legitimately absent there
        "final_adaptive": "isFinalPlan=true" in plan,
    }


def main() -> None:
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    reg = load_registry()
    spark = get_spark("gen_plans_md")
    spark.sparkContext.setLogLevel("ERROR")
    jutils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils

    out = [
        "# PLANS — final physical plans of the headline pillars",
        "",
        f"Generated by `scripts/gen_plans_md.py` at `{SF}` "
        "(driver correctness scale). Each pillar is MATERIALIZED once "
        "(noop write) before explain, so AQE has settled: what follows "
        "is the plan that actually executed (`isFinalPlan=true`), not "
        "the pre-runtime guess. Regenerate after any plan-shaping "
        "change; the assertions guarding these shapes live in "
        "`tests/test_plan_audits.py`.",
        "",
        "| pillar | exch | bcast⋈ | smj | shj | codegen | top-k | "
        "pushed | bnlj | cartesian |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    sections = []
    for name, why in PILLARS:
        df = reg[name].fn(spark, SF)
        # collect() executes THIS DataFrame's queryExecution, so the
        # explain below shows the AQE-final plan (a noop write would
        # execute a sibling plan and leave df's own unexecuted)
        df.collect()
        plan = jutils.explainString(df._jdf.queryExecution(), "formatted")
        s = summarize(plan)
        out.append(
            f"| `{name}` | {s['exchanges']} | {s['broadcast_joins']} | "
            f"{s['sortmerge_joins']} | {s['shuffledhash_joins']} | "
            f"{s['codegen_spans']} | {s['topk']} | {s['pushed_filters']} | "
            f"{s['bnlj'] or '—'} | {'YES' if s['cartesian'] else '—'} |")
        sections.append(f"\n## {name}\n\n{why}.\n\n```\n{plan}\n```\n")
        print(f"{name}: exchanges={s['exchanges']} "
              f"codegen={s['codegen_spans']} final={s['final_adaptive']}",
              flush=True)
    out.append("")
    out.append("`exch` counts Exchange operators in the final plan "
               "(reused exchanges print once per reuse site); `pushed` "
               "counts scans with non-empty PushedFilters; `bnlj` counts "
               "BroadcastNestedLoopJoin sites, which here are always a "
               "deliberately tiny frame (hyperplane table, bloom scalar, "
               "1-row normalizer) attached to every row — bounded by "
               "construction. A `YES` in cartesian would be a bug — the "
               "audits forbid it on every one of these pillars.")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n" + "\n".join(sections))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
