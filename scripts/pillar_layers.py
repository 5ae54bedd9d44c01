"""Per-pillar layer profile: plan build cost, then the Spark work it runs.

For each named query: one untimed warm-up build (one-time JVM class
lookups), then a build timed and counted in py4j round trips, then one run
to the noop sink. Build and run share a job group, so jobs the build itself
triggers (collects, eager checkpoints) are counted too: multi-action
pillars show up as high job counts, deep-DAG pillars as high stage counts.
Walls are single-shot (indicative only).

Usage: PYTHONPATH=. python scripts/pillar_layers.py name [name...]
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from unittest import mock

from bench import SF_DIR


@contextlib.contextmanager
def count_py4j_calls():
    """Count this thread's py4j round trips; yields a one-item list."""
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = [0]

    def counting(self, command):
        # this thread only: py4j's finalizer thread sends the deletes of
        # garbage-collected JVM references whenever GC happens to run
        calls[0] += threading.get_ident() == me
        return orig(self, command)

    with mock.patch.object(ClientServerConnection, "send_command", counting):
        yield calls


def main() -> None:
    names = sys.argv[1:]
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.session import get_spark

    spark = get_spark("pillar_layers")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reg = load_registry()

    warm = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    warm.groupBy("r_name").count() \
        .write.format("noop").mode("overwrite").save()
    from server2_vector_search_server_spark.plans.graph_queries import (
        shipment_silver,
    )
    shipment_silver(spark, SF_DIR)

    tracker = sc.statusTracker()
    out = {}
    for name in names:
        rq = reg.get(name)
        if rq is None:
            print(f"skip unknown: {name}", file=sys.stderr)
            continue
        rq.fn(spark, SF_DIR)
        spark.catalog.clearCache()
        group = f"prof_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with count_py4j_calls() as calls:
            df = rq.fn(spark, SF_DIR)
        build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        out[name] = {"build_s": round(build, 3), "py4j_calls": calls[0],
                     "wall": round(wall, 3), "jobs": len(jobs),
                     "stages": n_stages, "tasks": n_tasks}
        print(f"{name}: build {build:.3f}s py4j={calls[0]} wall {wall:.3f}s "
              f"jobs={len(jobs)} stages={n_stages} tasks={n_tasks}",
              file=sys.stderr)
        spark.catalog.clearCache()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
