"""The chunk store — single partitioned columnar table (SURVEY.md §1.3, §2 A5/A7/A8).

Replaces the reference's six separate ChromaDB persist dirs + dual-write
(``vector_store.py:24-35,91-137``) with ONE parquet table partitioned by
``collection``:

  * master = the whole table (no partition predicate) — the union invariant
    the reference maintains by double-writing is structural here;
  * a specific collection = one partition (partition-pruned scan);
  * ``original_collection`` provenance survives exactly as the reference
    records it (``vector_store.py:106,119``);
  * delete-by-doc_id (the reference's 109-line cascading delete,
    ``vector_store.py:190-298``) collapses to an anti-filter rewrite of only
    the partitions that contain the document (dynamic partition overwrite).

Scale: appends are partitioned writes (no read-modify-write); deletes rewrite
only affected partitions — on a real deployment this table would be Delta/
Iceberg where delete is a metadata op, and the class documents that seam. At
100 TB, partition by ``collection`` plus file-size targeting keeps scans
prunable and parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.sources.fs import Tree

CHUNKS_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.StringType(), False),
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("doc_name", T.StringType(), False),
    T.StructField("chunk_index", T.IntegerType(), False),
    T.StructField("original_collection", T.StringType(), False),
    T.StructField("content", T.StringType(), True),
    T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("collection", T.StringType(), False),   # partition column
])
CHUNKS_COLS = [f.name for f in CHUNKS_SCHEMA.fields]


class ChunkStore:
    """Parquet-backed chunk table with the reference's collection semantics."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # lists and removes through Hadoop, not ``os``, so every URI scheme
        # Spark writes to (``file:``, ``viewfs:``, ``hdfs:``) answers too
        self._tree = Tree(spark, root)

    def _overwrite_dynamic(self, rows: DataFrame) -> None:
        """Replace only the ``collection`` partitions ``rows`` writes into
        (dynamic partition overwrite, set on this write alone so the
        session's own mode is never touched)."""
        (rows.select(*CHUNKS_COLS)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("collection").parquet(self.root))

    @staticmethod
    def _partitions(flagged: DataFrame) -> tuple[list[str], set[str]]:
        """One aggregate over ``flagged``'s boolean ``hit`` column: the
        partitions that hold a hit row, and the partitions that hold a row
        that is not hit (those keep rows after the hits are removed)."""
        rows = (flagged.groupBy("collection")
                .agg(F.max("hit").alias("hit"),
                     F.max(~F.col("hit")).alias("kept")).collect())
        return ([r["collection"] for r in rows if r["hit"]],
                {r["collection"] for r in rows if r["kept"]})

    def _overwrite_partitions(self, out: DataFrame, affected: list[str],
                              kept: set[str]) -> None:
        """Dynamic-partition overwrite of ``affected`` with ``out``'s rows,
        including the case dynamic mode cannot express: a partition whose
        surviving row set is EMPTY is never rewritten by Spark (nothing to
        write → old files stay), so the ``affected`` partitions outside
        ``kept`` (those ``out`` holds no row of) are dropped explicitly
        after the write. ``kept`` is collected BEFORE the write: ``out``'s
        lineage reads ``self.root``, and re-running it after the overwrite
        would see the mutated table."""
        self._overwrite_dynamic(out)
        for part in set(affected) - kept:
            # "drop empty partition" — on Delta/Iceberg this is the
            # metadata delete the commit already did
            self._tree.delete(f"collection={part}")

    # -- A5: upsert/append ---------------------------------------------------
    def append(self, chunks: DataFrame) -> None:
        """Append chunk rows. ``collection`` must be present; the master
        union needs no second write (single-table design)."""
        (chunks.select(*CHUNKS_COLS)
         .write.mode("append").partitionBy("collection").parquet(self.root))

    def upsert(self, chunks: DataFrame) -> None:
        """MERGE-by-``doc_id``: replace every existing chunk of the incoming
        batch's documents (across ALL collections — the same cascade scope
        as :meth:`delete_document`), then write the new rows, in ONE
        dynamic-partition overwrite of only the affected partitions.

        This is the Chroma WAL upsert (operation=2 in ``embeddings_queue``,
        SURVEY.md §1.1 WAL row — re-adding a document replaces its vectors)
        expressed as the parquet MERGE fallback; on Delta/Iceberg this is
        literally ``MERGE INTO``. Contract: the batch is small relative to
        the store (its distinct doc_ids broadcast into the anti-join), the
        standard CDC-upsert shape — untouched partitions are never read or
        rewritten, so cost tracks the batch's partition footprint, not the
        table.
        """
        # eager checkpoint: the overwrite below re-executes this plan; if its
        # lineage reads self.root (or anything the write invalidates), the
        # recacheByPath trap re-runs it against the mutated store.
        incoming = chunks.select(*CHUNKS_COLS).localCheckpoint(eager=True)
        if self.is_empty():
            (incoming.write.mode("append").partitionBy("collection")
             .parquet(self.root))
            return
        table = self.read(None)
        ids = incoming.select("doc_id").distinct()
        hit_parts, kept = self._partitions(
            table.join(F.broadcast(ids.withColumn("hit", F.lit(True))),
                       "doc_id", "left")
            .select("collection", F.col("hit").isNotNull().alias("hit")))
        new_parts = {r["collection"] for r in
                     incoming.select("collection").distinct().collect()}
        parts = sorted(set(hit_parts) | new_parts)
        survivors = (table.filter(F.col("collection").isin(parts))
                     .join(F.broadcast(ids), "doc_id", "left_anti"))
        out = (survivors.select(*CHUNKS_COLS)
               .unionByName(incoming.select(*CHUNKS_COLS)))
        self._overwrite_partitions(out, parts, kept | new_parts)

    # -- A7: scans ----------------------------------------------------------
    def read(self, collection: str | None = None) -> DataFrame:
        """Collection scan; ``None`` or 'master' = union of everything."""
        df = self.spark.read.schema(CHUNKS_SCHEMA).parquet(self.root)
        if collection and collection != config.MASTER_COLLECTION_NAME:
            df = df.filter(F.col("collection") == collection)
        return df

    def is_empty(self) -> bool:
        """True when no ``collection=`` partition exists under the root: one
        Hadoop ``globStatus``, which is null for a missing root and empty
        for a root with no partition."""
        return not self._tree.glob("collection=*")

    # -- B4/B5: existence ----------------------------------------------------
    def document_exists(self, doc_name: str,
                        collection: str | None = None) -> bool:
        """LIMIT-1 probe (vector_store.py:56-89); collection=None = global.

        ``isEmpty`` runs one job over every partition, each stopping at its
        first match. ``limit(1).count()`` runs two (the limit's
        single-partition exchange is its own job), and ``limit(1)`` collects
        take partitions incrementally, one more job per round that finds
        no match. Only ``is_empty`` and ``read`` are used, so
        ``SnapshotChunkStore`` shares this method."""
        if self.is_empty():
            return False
        return not (self.read(collection)
                    .filter(F.col("doc_name") == doc_name).isEmpty())

    # -- A8: delete ----------------------------------------------------------
    def delete_document(self, doc_id: str) -> bool:
        """Delete every chunk of ``doc_id`` across all collections.

        The reference cascades specific→master or master→original_collection
        (``vector_store.py:190-298``); with one table the cascade is a single
        predicate. Implemented as dynamic-partition-overwrite of ONLY the
        partitions containing the doc — the parquet fallback spelled out in
        SURVEY.md §7 (Delta would make this `DELETE WHERE`).
        """
        if self.is_empty():
            return False
        table = self.read(None)
        # one probe answers both questions: which partitions hold the doc,
        # and which of them keep other rows
        hit_parts, kept = self._partitions(table.select(
            "collection", (F.col("doc_id") == doc_id).alias("hit")))
        if not hit_parts:
            return False
        self._overwrite_partitions(
            table.filter(F.col("collection").isin(hit_parts))
            .filter(F.col("doc_id") != doc_id), hit_parts, kept)
        return True

    # -- maintenance ---------------------------------------------------------
    def compact(self, rows_per_file: int = 100_000) -> None:
        """Fold accumulated small append files into right-sized ones.

        Streaming/micro-batch appends fragment the table (one file per batch
        per partition); scan cost then grows with FILE COUNT, not data size.
        Rewrites every partition via dynamic-partition-overwrite with file
        count derived from row count — the background job Delta/Iceberg call
        OPTIMIZE. Content is unchanged (same rows, same partitioning)."""
        if self.is_empty():
            return
        table = self.read(None)
        n = table.count()
        n_files = max(1, n // rows_per_file)
        # round-robin repartition: each task writes at most one file per
        # collection it holds, so total files ≤ n_files × n_collections
        self._overwrite_dynamic(table.repartition(n_files))

    # -- D1: catalog ---------------------------------------------------------
    def list_documents(self, collection: str | None = None) -> DataFrame:
        from server2_vector_search_server_spark.operators.catalog import (
            list_documents,
        )

        return list_documents(self.read(collection))


def apply_cdc_log(base: DataFrame, changes: DataFrame, *,
                  key_col: str, seq_col: str,
                  op_col: str = "op") -> DataFrame:
    """Apply an ordered change-data-capture log onto a base snapshot —
    the Debezium / Delta ``APPLY CHANGES INTO`` contract (public
    semantics): each change row carries a key, a monotonically increasing
    sequence, an op in {'I','U','D'} and the new payload; upserts replace
    the row, 'D' removes it, and only the LATEST change per key wins —
    intermediate history collapses before it ever touches the base.

    Shape: one window (partial top-1 per key over the log — map-side
    combinable, shuffle ∝ log size) + one full-outer join on the key
    (shuffle ∝ touched keys + base), so replaying a week of CDC is the
    same plan as replaying one batch. At 100 TB the join side composes
    with partition-bounded writes (``ChunkStore.upsert``'s dynamic
    overwrite) so only partitions holding touched keys rewrite.

    Payload columns are taken from ``base``'s schema minus the key; the
    log must carry the same names. Ties on ``seq_col`` break by op
    reverse-alphabetically ('U' > 'I' > 'D': an equal-sequence
    upsert-vs-delete resolves to the upsert, deterministically), and a
    residual tie (same key, seq AND op — a malformed but possible log)
    breaks on an xxhash64 of the payload so the survivor is a pure
    function of the log contents, never of partitioning. The hash runs
    over ``to_json(struct(payload))``, not the raw columns: Spark rejects
    hash functions on MapType columns at analysis time
    (spark.sql.legacy.allowHashOnMapType defaults false — map iteration
    order is undefined, so a direct hash would be non-deterministic
    anyway), and the CHUNKS schema carries ``metadata map<string,string>``
    — to_json canonicalizes the row to one string first (ADVICE r6).
    """
    from pyspark.sql import Window

    payload = [c for c in base.columns if c != key_col]
    w = Window.partitionBy(key_col).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc(),
        F.xxhash64(F.to_json(F.struct(*[F.col(p) for p in payload]))).asc())
    last = (changes.select(key_col, seq_col, op_col, *payload)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", seq_col))
    b = base.alias("b")
    c = last.alias("c")
    joined = b.join(c, on=key_col, how="full_outer")
    alive = F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != "D")
    out = [F.col(key_col)]
    for p in payload:
        out.append(F.when(F.col(f"c.{op_col}").isNull(), F.col(f"b.{p}"))
                   .otherwise(F.col(f"c.{p}")).alias(p))
    out.append(F.when(F.col(f"c.{op_col}").isNull(), F.lit("base"))
               .otherwise(F.lit("cdc")).alias("row_source"))
    return joined.filter(alive).select(*out)
