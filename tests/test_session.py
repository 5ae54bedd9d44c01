"""session.read_table: the per-process parquet schema memo."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from server2_vector_search_server_spark.session import read_table
from tests.conftest import SF_SMOKE


def test_repeated_read_table_runs_no_job(spark, spark_jobs, tmp_path):
    """The first read of a table infers its schema (one footer job); a
    second read of the same, unchanged file is given the memoized schema
    and runs none."""
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"),
                tmp_path / "orders.parquet")
    first = spark_jobs(lambda: read_table(spark, str(tmp_path), "orders"))
    second = spark_jobs(lambda: read_table(spark, str(tmp_path), "orders"))
    assert (first, second) == (1, 0)
    assert (read_table(spark, str(tmp_path), "orders").count()
            == read_table(spark, SF_SMOKE, "orders").count())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another schema changes its
    length and modification time, so the memo infers it again instead of
    serving the stale schema."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]
