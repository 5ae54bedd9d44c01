"""SparkSession factory.

Local testing runs a single JVM with N threads (``local[N]``); production is a
multi-executor cluster. Everything scale-relevant is expressed through the
DataFrame API (partitioning, broadcast hints, AQE) so the same plans hold on a
1000-executor cluster — only these session configs change.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from server2_vector_search_server_spark.sources.fs import resolve

_log = logging.getLogger(__name__)

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_spark(app_name: str = "server2_vector_search_server_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are sized for local mode: shuffle partitions ≈ cores (the default
    200 over-parallelizes small local data), AQE on so runtime statistics can
    coalesce post-shuffle partitions and rewrite skewed joins — both of which
    are exactly the behaviors we rely on at 100 TB scale.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Inferred parquet schemas, keyed by path, the Hadoop ``FileStatus`` length
# and modification time, and the nanos-as-long setting (it changes what a
# nanos timestamp infers as). Inference is a footer-reading Spark job; a
# read with the schema given runs none.
_SCHEMAS: dict = {}


def _parquet_schema(spark: SparkSession, path: str):
    """The inferred schema of the parquet file or directory at ``path``,
    memoized per process under the key above. The status is read through
    Hadoop's ``FileSystem``, so any URI scheme works; a directory's
    modification time moves when a file is added to or removed from it. A
    failed inference raises and is not memoized."""
    fs, jpath = resolve(spark, path)
    try:
        status = fs.getFileStatus(jpath)
    except Py4JJavaError:
        # a missing or unreadable path: the reader raises its own error
        return spark.read.parquet(path).schema
    key = (path, status.getLen(), status.getModificationTime(),
           spark.conf.get(NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMAS[key] = schema
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table.

    The table's schema is inferred once per process and then given to the
    reader, so a repeated read runs no Spark job. The memo key is the path,
    its Hadoop ``FileStatus`` length and modification time, and the
    ``spark.sql.legacy.parquet.nanosAsLong`` setting: a table rewritten in
    place is inferred again.

    ``events.parquet`` has shipped as either TIMESTAMP(NANOS) — which Spark's
    parquet reader rejects unless nanos are read as long and converted — or
    plain TIMESTAMP(MICROS). Handle both: the conversion is applied only when
    the file really stores nanos-as-long, and a micros file surfaces as a
    session-zone timestamp (identical to what the nanos path produces, and to
    DuckDB's ``CAST(ts AS TIMESTAMP)``). Both paths are narrow, distributed
    column transformations — no driver materialization, any scale.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    if name != "events":
        return df
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer DIV, not float /: nanos ~1.7e18 exceed double's 53-bit
        # mantissa, so float division drifts by up to ±1 microsecond
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, src_dir: str,
                       **reader_options):
    """``readStream`` over an events-shaped parquet directory, normalizing
    ``ts`` exactly like :func:`read_table` — a streaming source must be given
    its schema up front, so peek at the existing files (footer-only, driver
    side, memoized like :func:`read_table`'s) to decide between the
    nanos-as-long and the plain-micros layout.
    Extra keyword args become reader options (e.g. maxFilesPerTrigger).
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set(NANOS_AS_LONG, "true")
    try:
        peeked = _parquet_schema(spark, src_dir)["ts"].dataType
        nanos = isinstance(peeked, T.LongType)
    except AnalysisException as exc:
        # An empty or missing directory — normal for a stream whose files
        # arrive later. Assume the plain-micros layout (what the driver
        # generates today); a nanos file landing later would need an
        # explicit restart anyway since a stream's schema is fixed at start.
        # Any other failure (a corrupt footer, a permission error) raises.
        _log.warning("events stream %s: no schema to peek (%s); assuming "
                     "the micros layout", src_dir, exc.getCondition())
        nanos = False
    raw = ("event_id long, ts {} , user_id long, event_type string, "
           "value double, props string").format("long" if nanos
                                                else "timestamp")
    reader = spark.readStream.schema(raw)
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    stream = reader.parquet(src_dir)
    if nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver-generated parquet tables and register temp views.

    Returns a dict name -> DataFrame. Registering views lets operators be
    written in either DataFrame or SQL form against the same Catalyst catalog.
    """
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
