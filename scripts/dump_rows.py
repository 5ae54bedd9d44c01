"""Dump exact query results as JSON for cross-checkout identity checks.

Usage: PYTHONPATH=. python scripts/dump_rows.py OUT.json name...
Rows are collected, converted with repr-exact floats, sorted, and written
to OUT.json — run once on the old checkout and once on the new, then diff.
"""

from __future__ import annotations

import json
import os
import sys

from bench import SF_DIR as BENCH_SF_DIR

# identity dumps default to the correctness scale, the sf0.01 tables that
# sit next to the bench's sf0.1 ones
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(
    os.path.dirname(BENCH_SF_DIR.rstrip("/")), "sf0.01"))


def _conv(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return [_conv(x) for x in v]
    if isinstance(v, dict):
        return {k: _conv(x) for k, x in v.items()}
    return repr(v)


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    spark = get_spark("dump_rows")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_registry()
    out = {}
    for name in names:
        df = reg[name].fn(spark, SF_DIR)
        rows = sorted(json.dumps([_conv(v) for v in r], sort_keys=True)
                      for r in df.collect())
        out[name] = {"schema": df.schema.simpleString(), "rows": rows}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
        spark.catalog.clearCache()
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=0, sort_keys=True)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
