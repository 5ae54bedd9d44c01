"""Plan capture: dump ``explain('formatted')`` for named queries.

Usage::

    PYTHONPATH=. python scripts/explain.py <subdir> <tag> name [name...]

Writes ``plans/<subdir>/<name>_<tag>.txt`` for each query (tag =
before/after). These files are the evidence for plan claims in the
OPTIMIZATION notes, readable without running Spark.
"""

from __future__ import annotations

import os
import sys

from bench import SF_DIR

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def main() -> None:
    subdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    out_dir = os.path.join(PLANS, subdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    for name in names:
        rq = registry.get(name)
        if rq is None:
            print(f"skip unknown: {name}", file=sys.stderr)
            continue
        df = rq.fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('BatchEvalPython')} BatchEvalPython, "
              f"{plan.count('ArrowEvalPython')} ArrowEvalPython)")
    spark.stop()


if __name__ == "__main__":
    main()
