from __future__ import annotations

import os

import pytest

from server2_vector_search_server_spark.plans.registry import (
    TABLES, oracle_connection)
from server2_vector_search_server_spark.session import get_spark, load_tables

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    """sf0.001 tables, registered as temp views."""
    return load_tables(spark, SF_SMOKE, *TABLES)


@pytest.fixture(scope="session")
def duck():
    return oracle_connection(SF_SMOKE)


@pytest.fixture
def py4j_calls():
    """``count(fn)``: the py4j round trips ``fn()`` makes from this thread.

    ``fn`` runs once unmeasured first (one-time JVM class lookups), then
    once under a counter on ``ClientServerConnection.send_command``. Only
    this thread is counted: py4j's finalizer thread sends the deletes of
    garbage-collected JVM references whenever GC happens to run."""
    import threading
    from unittest import mock

    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = 0

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return orig(self, command)

    def count(fn):
        nonlocal calls
        fn()
        calls = 0
        with mock.patch.object(ClientServerConnection, "send_command",
                               counting):
            fn()
        return calls

    return count


@pytest.fixture
def spark_jobs(spark):
    """``count(fn)``: the Spark jobs ``fn()`` runs, by job group.

    ``fn`` runs once under a fresh job group; the count is
    ``statusTracker().getJobIdsForGroup`` of that group, the method of
    ``scripts/pillar_layers.py``. Jobs include the map-stage jobs adaptive
    execution submits for each shuffle."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"spark_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "spark_jobs")
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def viewfs_root(spark, tmp_path):
    """A ``viewfs://`` URI whose mount links ``/store`` to ``tmp_path``: a
    non-local scheme for the stores and logs, set up offline from the
    bundled Hadoop client (one fresh mount table per test)."""
    import uuid

    mount = f"store{uuid.uuid4().hex[:8]}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./store", f"file://{tmp_path}")
    return f"viewfs://{mount}/store"
