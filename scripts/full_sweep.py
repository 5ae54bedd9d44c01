"""Oracle parity sweep: registered queries vs their DuckDB oracles.

Usage (from the repo root):
  PYTHONPATH=. python scripts/full_sweep.py <round>     # every query;
                                                       # writes PARITY_r{N}.json
  PYTHONPATH=. python scripts/full_sweep.py head        # the driver-head window
  PYTHONPATH=. python scripts/full_sweep.py name...     # the named queries
  ... full_sweep.py --sf DIR ...                        # another corpus

No target sweeps every query without writing an artifact. ``--sf``
defaults to sf0.01, the driver's correctness scale; its tables may be
bare ``.parquet`` files or Spark part-file directories. Each query is
compared with ``plans.registry.oracle_mismatch``, the comparator of the
test gate, and a failure prints its first differing row and column. The
session is ``session.get_spark``, so ``SPARK_GRAFT_CPUS`` sets its cores
and ``SPARK_DRIVER_MEMORY`` its heap. Exits 1 when any query fails, 2 on
an unknown query name.
"""

import argparse
import json
import os
import sys
import time

from server2_vector_search_server_spark.plans import (
    _DRIVER_HEAD_SIZE, load_registry)
from server2_vector_search_server_spark.plans.registry import (
    oracle_connection, oracle_mismatch)
from server2_vector_search_server_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def sweep(spark, sf, reg, names):
    """Run ``names`` against their oracles; ``(failures, rows_only)``."""
    con = oracle_connection(sf)
    failures, rows_only = [], 0
    for i, name in enumerate(names, 1):
        rq = reg[name]
        tag = f"[{i}/{len(names)}] {name}"
        try:
            got = rq.fn(spark, sf).toPandas()
            if rq.oracle is None:
                rows_only += 1
                print(f"{tag} rows-only {len(got)}", flush=True)
                continue
            mismatch = oracle_mismatch(got, con.execute(rq.oracle).df())
            status = f"OK {len(got)}" if mismatch is None \
                else f"FAIL {mismatch}"
        except Exception as ex:
            mismatch = status = f"ERROR {type(ex).__name__}: {ex}"
        print(f"{tag} {status}"[:300], flush=True)
        if mismatch is not None:
            failures.append(name)
    return failures, rows_only


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default=SF, help="corpus directory")
    ap.add_argument("target", nargs="*",
                    help="a round number, 'head', or query names")
    args = ap.parse_args(argv)
    t0 = time.time()
    reg = load_registry()
    rnd = None
    if args.target == ["head"]:
        names = list(reg)[:_DRIVER_HEAD_SIZE]
    elif len(args.target) == 1 and args.target[0].isdigit():
        rnd, names = int(args.target[0]), sorted(reg)
    elif args.target:
        names = args.target
        unknown = [n for n in names if n not in reg]
        if unknown:
            print("unknown queries:", unknown)
            return 2
    else:
        names = sorted(reg)
    spark = get_spark("full_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    failures, rows_only = sweep(spark, args.sf, reg, names)
    wall = int(time.time() - t0)
    print(f"\nsweep: {len(names) - len(failures)}/{len(names)} OK in {wall}s")
    print("FAILURES:", failures)
    if rnd is not None:
        doc = {
            "round": rnd,
            "what": ("Full-surface oracle parity: every registered query "
                     "vs its DuckDB oracle — column set, row count, and "
                     "exact values on column-name-sorted rows "
                     "(plans.registry.oracle_mismatch, the comparator of "
                     "tests/test_oracle_parity.py)."),
            "sf": os.path.basename(os.path.normpath(args.sf)),
            "queries_total": len(reg),
            "queries_checked": len(names) - rows_only,
            "rows_only": rows_only,
            "failures": failures,
            "wall_seconds": wall,
        }
        out = f"PARITY_r{rnd:02d}.json"
        with open(out, "w") as fh:
            json.dump(doc, fh, indent=1)
        print("wrote", out)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
