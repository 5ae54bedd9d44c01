"""XL resolving-tier bench (r11, VERDICT r10 #8) — ADDITIVE, separate from
bench.py (the driver's harness is untouched, so `bench_harness_changed`
comparisons stay valid).

Problem: at sf0.1 the 104-pillar suite is fixed-overhead-bound (8 cores run
within 5% of 32 — BENCH_r10_c8.json), so round-over-round aggregate deltas
drown in noise. There is no driver sf1 dataset, so this script DERIVES one:
each run amplifies $SPARK_GRAFT_SF_DIR ``K``× into a fresh temp dir (key
columns shifted by ``i*OFFSET`` per copy, consistently across tables so
join semantics hold; dims copied verbatim), then times the 15 heaviest
UNBOUNDED pillars — the scan/shuffle-bound ones whose work actually grows
with input — with bench.py's own pass loop (``bench.time_pillars``: noop
sink, interleaved passes, rotation, median, clearCache) and calibration
(``bench._cpu_reference_sec``).

The amplified data is rebuilt from the parquet inputs on EVERY invocation
(inside this run's temp dir, outside the timed region) — nothing persists
across runs, no result caching. Output: one JSON line + BENCH_XL_FULL.json.

Usage: PYTHONPATH=. python scripts/bench_xl.py
Env: SPARK_GRAFT_SF_DIR (default as in bench.py), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_BENCH_REPEATS (default 3), SPARK_GRAFT_XL_K (default 8).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from bench import SF_DIR, _cpu_reference_sec, time_pillars

K = int(os.environ.get("SPARK_GRAFT_XL_K", "8"))
OFFSET = 10 ** 12

# Heaviest pillars whose inputs are NOT id-bounded slices — their work
# scales with the amplified tables. Bounded pillars (cosine_lsh vec_id<2000,
# betweenness 200-node graph, token_stats doc_id<200, ...) would time the
# same 1× rows and are deliberately excluded.
XL_PILLARS = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "orders_with_late_shipment",
    "large_volume_orders",
    "nation_pair_volume",
    "customer_order_distribution",
    "waiting_suppliers",
    "order_value_percentiles",
    "events_hourly_rollup",
    "events_session_window",
    "events_concurrency_sweep",
    "events_asof_join",
    "graph_pagerank_shuffle",
    "streaming_wal_replay",
]

SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}


def _amplify(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.session import read_table

    for name, keys in SHIFT_COLS.items():
        df = read_table(spark, SF_DIR, name)
        if keys and K > 1:
            copies = df
            for i in range(1, K):
                c = df
                for kcol in keys:
                    c = c.withColumn(kcol, F.col(kcol) + i * OFFSET)
                copies = copies.unionByName(c)
            out = copies
        else:
            out = df
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    cal_pre = (_cpu_reference_sec(), round(os.getloadavg()[0], 2))
    spark = get_spark("bench_xl")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    xl_dir = tempfile.mkdtemp(prefix="spark_graft_xl_")
    t0 = time.perf_counter()
    _amplify(spark, xl_dir)
    print(f"amplified {K}x into {xl_dir} "
          f"({time.perf_counter() - t0:.1f}s, untimed)", file=sys.stderr)
    # silver artifacts outside the timed region, exactly like bench.py
    from server2_vector_search_server_spark.plans.graph_queries import (
        shipment_silver,
    )
    shipment_silver(spark, xl_dir)

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings = time_pillars(spark, registry, XL_PILLARS, xl_dir, repeats)
    out = {
        "metric": "xl_tier_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(os.path.basename(SF_DIR.rstrip("/"))
                    .removeprefix("sf") or 0),
        "xl_k": K,
        "repeats": repeats,
        "aggregation": "median",
        "cpu_ref_pre": cal_pre[0],
        "cpu_ref_post": _cpu_reference_sec(),
        "loadavg_pre": cal_pre[1],
        "loadavg_post": round(os.getloadavg()[0], 2),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(here, "BENCH_XL_FULL.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass
    sys.stderr.flush()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
