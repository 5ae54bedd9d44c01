"""Incremental materialized-view maintenance (IVM) — a streaming-refreshed
aggregate rollup.

The pattern: every micro-batch is reduced to PARTIAL aggregates (one row per
touched group), the partials are appended to a delta log, and readers merge
the log with a re-aggregation. The full input is never re-scanned — refresh
cost is O(batch), read cost is O(#batches × #touched-groups), and a
background ``compact()`` folds the log back to one row per group (the same
log/base split as ``streaming/wal.py``, which is the Delta/materialized-view
architecture: append deltas, merge on read, compact offline).

Why partial aggregates compose: COUNT and scaled-integer SUM are associative
and commutative, so merging per-batch partials is exactly re-aggregating —
the identical property that makes Spark's own map-side combine correct. Any
rollup whose measures are partial-aggregable (count/sum/min/max, HLL
sketches, moment tuples) fits this class unchanged; AVG rides along as
sum/count at read time. The float sum uses the scaled-integer contract so
merge ORDER cannot perturb the total — the invariant that makes a streamed
view bit-identical to the batch aggregate (asserted by the oracle gate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.sources.fs import Tree

ROLLUP_SCHEMA = ("window_start timestamp, event_type string, "
                 "n_events long, value_cents long, ingest_batch long")


class HourlyRollupView:
    """Materialized (hour, event_type) → (count, exact sum) view over an
    events stream, maintained incrementally."""

    def __init__(self, spark: SparkSession, root: str, *, scale: int = 100):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "log")
        self.scale = scale
        self._tree = Tree(spark, root)

    # -- writer side ---------------------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the micro-batch to per-group partials and add them
        idempotently. No read-modify-write of the view, so refresh cost
        never grows with view size; each batch's partials land under their
        own ``ingest_batch=<id>`` partition via dynamic partition
        overwrite, so a foreachBatch REPLAY (failure between the write and
        the checkpoint commit) overwrites its own files instead of
        double-counting — the same idempotency discipline as
        streaming/ann_index.py."""
        part = (
            batch.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("window_start"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * self.scale).cast("long"))
                 .alias("value_cents"))
            .withColumn("ingest_batch", F.lit(batch_id).cast("long")))
        (part.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("ingest_batch").parquet(self.log_dir))

    # -- reader side ---------------------------------------------------------
    def current(self) -> DataFrame:
        """Merge all partials: re-aggregate the log. Identical to the batch
        aggregate because every measure is associative."""
        if self._tree.recover("log"):
            log = self.spark.read.schema(ROLLUP_SCHEMA).parquet(self.log_dir)
        else:
            log = self.spark.createDataFrame([], ROLLUP_SCHEMA)
        return (
            log.groupBy("window_start", "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("value_cents").alias("value_cents"))
            .select("window_start", "event_type", "n_events",
                    (F.col("value_cents") / float(self.scale))
                    .alias("total_value")))

    # -- maintenance ---------------------------------------------------------
    def committed_batches(self, checkpoint_dir: str) -> set[int]:
        """Batch ids the streaming checkpoint has COMMITTED (Spark writes one
        file per finished batch under ``<checkpoint>/commits``). A batch whose
        partials were written but whose commit file is absent will be REPLAYED
        on restart, so its partition must survive compaction untouched."""
        return {int(name) for name in
                Tree(self.spark, checkpoint_dir).names("commits")
                if name.isdigit()}

    def compact(self, checkpoint_dir: str | None = None) -> None:
        """Fold the partial log to one row per group (background job; the
        view's answers are unchanged — compaction only bounds read cost).

        Replay safety: folding a batch into the ``ingest_batch=-1`` base
        erases the per-batch provenance that makes ``apply_batch`` replays
        idempotent — a replayed batch would re-write its ``ingest_batch=N``
        partition on top of totals that already absorbed it, double-counting.
        So when ``checkpoint_dir`` is given, only batches with a commit file
        are folded; uncommitted partitions are carried over verbatim. Without
        a checkpoint (stream terminated / offline maintenance) everything
        folds, as before.

        Crash safety: the new log goes in by the swap of ``sources/fs.py``,
        whose recovery step both readers and the next compact run.
        """
        if not self._tree.recover("log"):
            return
        tmp = self._tree.uri_of("log.tmp")
        log = self.spark.read.schema(ROLLUP_SCHEMA).parquet(self.log_dir)
        if checkpoint_dir is not None:
            committed = self.committed_batches(checkpoint_dir)
            foldable = log.filter(F.col("ingest_batch").isin(
                [-1, *committed]))
            retained = log.filter(~F.col("ingest_batch").isin(
                [-1, *committed]))
        else:
            foldable, retained = log, None
        folded = (foldable.groupBy("window_start", "event_type")
                  .agg(F.sum("n_events").alias("n_events"),
                       F.sum("value_cents").alias("value_cents"))
                  # ingest_batch -1 marks compacted base rows (the same
                  # convention as the ANN index's base build)
                  .withColumn("ingest_batch", F.lit(-1).cast("long")))
        folded.write.mode("overwrite").partitionBy("ingest_batch") \
            .parquet(tmp)
        if retained is not None:
            retained.write.mode("append").partitionBy("ingest_batch") \
                .parquet(tmp)
        self._tree.swap("log", "log.tmp")


def start_rollup_stream(spark: SparkSession, src_dir: str,
                        view: HourlyRollupView, checkpoint_dir: str, *,
                        max_files_per_trigger: int | None = None,
                        available_now: bool = True):
    """Maintain the rollup view from an events parquet directory."""
    from server2_vector_search_server_spark.session import read_events_stream

    opts = {}
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = max_files_per_trigger
    stream = read_events_stream(spark, src_dir, **opts)
    writer = (stream.writeStream
              .foreachBatch(view.apply_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
