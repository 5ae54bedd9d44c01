"""Streaming + event-time window queries (SURVEY.md §2.E/I).

Two kinds of entries:

  * batch twins of the streaming aggregations (`events_sliding_window`,
    `events_session_window`) — the SAME DataFrame functions from
    ``streaming/events.py`` applied to a batch scan, so the oracle check
    certifies the expression that the streaming job runs;
  * real Structured Streaming runs (`streaming_wal_replay`,
    `streaming_windowed_counts`) — the callable starts an ``availableNow``
    stream, drains it, and returns the materialized result, so the
    correctness gate exercises readStream → foreachBatch / memory-sink
    end-to-end, not just the batch shape.

The WAL replay derives a deterministic operation log from the ``documents``
table (upsert-all, delete every 7th, re-upsert every 5th with new content), so
its final state is SQL-expressible and DuckDB-checkable — last-write-wins,
delete tombstones, and cross-batch merge all get verified by value hash.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.session import read_events_stream
from server2_vector_search_server_spark.plans.registry import (
    link_table_files,
    scratch_dir,
    staged_source,
    state_partitions,
    REGISTRY, exact_sum, query, sql_exact_sum, tbl,
)
from server2_vector_search_server_spark.streaming.events import (
    session_stats, sliding_counts, tumbling_counts,
)
from server2_vector_search_server_spark.streaming.wal import (
    OP_DELETE, OP_UPSERT, WAL_SCHEMA, WalLog, start_wal_stream,
)


@query(
    "events_sliding_window",
    survey="E/I(sliding event-time window, batch twin of streaming/events.py)",
    oracle="""
    -- each event belongs to exactly 4 windows (1h window / 15m slide):
    -- starts at floor(epoch/900)*900 - k*900, k = 0..3 (epoch-aligned,
    -- matching Spark's F.window alignment)
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900
                             - k * 900 AS BIGINT)) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, UNNEST([0, 1, 2, 3]) AS u(k)
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window batch twin — certifies the exact expression the
    streaming job runs (watermark is a no-op on batch input)."""
    events = tbl(spark, sf_dir, "events")
    return sliding_counts(events).orderBy("window_start", "event_type")


@query(
    "events_session_window",
    survey="E/I(session windows, batch twin of streaming/events.py)",
    oracle=f"""
    -- gaps-and-islands twin of F.session_window(ts, '30 minutes'):
    -- a new session starts when the gap from the previous event >= 30 min;
    -- session_end = last event + gap (Spark session-window semantics)
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP)
                       - CAST(LAG(ts) OVER w AS TIMESTAMP)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS total_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window batch twin (F.session_window merges events closer than
    the gap; state is keyed by user_id, so it shards across executors)."""
    events = tbl(spark, sf_dir, "events")
    return session_stats(events).orderBy("user_id", "session_start")


_SESSION_ORACLE = REGISTRY["events_session_window"].oracle


@query(
    "streaming_session_windows",
    survey="I(session windows under readStream: merging session state store)",
    oracle=_SESSION_ORACLE,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-window aggregation actually run as a stream (file source →
    session_window state store → complete-mode memory sink, drained with
    availableNow) — hash-matched against the same gaps-and-islands oracle as
    the batch twin, proving the incremental merging-session plan equals the
    batch result."""
    src = scratch_dir("events_sess_stream_")
    link_table_files(sf_dir, "events", src)
    events = read_events_stream(spark, src)
    sink = f"sess_windows_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (
            session_stats(events)
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("user_id", "session_start")


def _build_wal(spark: SparkSession, sf_dir: str, wal_dir: str) -> None:
    """Write the deterministic WAL derived from ``documents``:
    seq 3d: upsert v1 | seq 3d+1: delete if d%7==0 | seq 3d+2: upsert v2 if
    d%5==0. Survivors: d%5==0 (content 'v2:'+text) else d%7!=0 (text)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    common = [
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("doc_name"),
        F.lit(0).alias("chunk_index"),
        F.lit("master").alias("collection"),
    ]
    v1 = docs.select(
        (F.col("doc_id") * 3).alias("seq_id"), F.lit(OP_UPSERT).alias("operation"),
        *common, F.col("text").alias("content"),
        F.lit(None).cast("array<float>").alias("embedding"))
    dels = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") * 3 + 1).alias("seq_id"), F.lit(OP_DELETE).alias("operation"),
        *common, F.lit(None).cast("string").alias("content"),
        F.lit(None).cast("array<float>").alias("embedding"))
    v2 = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") * 3 + 2).alias("seq_id"), F.lit(OP_UPSERT).alias("operation"),
        *common, F.concat(F.lit("v2:"), F.col("text")).alias("content"),
        F.lit(None).cast("array<float>").alias("embedding"))
    wal = v1.unionByName(dels).unionByName(v2).select(
        [f.name for f in WAL_SCHEMA.fields])
    # several files => several availableNow micro-batches: 4 files over
    # maxFilesPerTrigger=2 replays as TWO batches (r11 — the old 8 files
    # under trigger=8 collapsed to one batch, testing nothing cross-batch,
    # while paying double the build-side write/list cost)
    wal.repartition(4).write.mode("overwrite").parquet(wal_dir)


@query(
    "streaming_wal_replay",
    survey="I(WAL ingestion: readStream -> foreachBatch merge, chroma embeddings_queue analog)",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'v2:' || text ELSE text END AS content
    FROM documents
    WHERE doc_id % 5 = 0 OR doc_id % 7 <> 0
    ORDER BY doc_id
    """,
)
def streaming_wal_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming ingestion: deterministic WAL parquet →
    readStream (maxFilesPerTrigger batches) → foreachBatch last-write-wins
    merge → reconstructed current state. Verifies upsert, delete-tombstone,
    and cross-micro-batch ordering against the DuckDB-computable final state."""
    work = scratch_dir("wal_replay_")
    wal_dir = os.path.join(work, "wal")
    _build_wal(spark, sf_dir, wal_dir)
    log = WalLog(spark, os.path.join(work, "store"))
    with state_partitions(spark):
        q = start_wal_stream(spark, wal_dir, log,
                             checkpoint_dir=os.path.join(work, "ckpt"))
        q.awaitTermination()
    return (
        log.current_state()
        .select(F.col("doc_id").cast("long").alias("doc_id"), "content")
        .orderBy("doc_id")
    )


@query(
    "streaming_windowed_counts",
    survey="I(event-time tumbling window under readStream + watermark)",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation actually run as a stream: file source →
    withWatermark → windowed agg → complete-mode memory sink, drained with
    availableNow. Hash-matches the batch oracle, proving the incremental
    stateful plan computes the same result as the batch plan."""
    # file stream sources read directories; the fixture is a single file —
    # symlink it into a scratch dir (no copy, testdata stays read-only)
    src = scratch_dir("events_stream_")
    link_table_files(sf_dir, "events", src)
    events = read_events_stream(spark, src)
    sink = f"win_counts_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (
            tumbling_counts(events)
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("window_start", "event_type")


@query(
    "streaming_dedup_exact",
    survey="I(stateful streaming dedup: dropDuplicates state store under "
           "readStream — the online twin of dedup_exact)",
    oracle="""
    SELECT content_hash, CAST(n_sources AS INTEGER) AS n_sources FROM (
      SELECT md5(text) AS content_hash,
             COUNT(DISTINCT CASE WHEN doc_id < 100000 THEN 'orig'
                                 ELSE 'copy' END) AS n_sources
      FROM (
        SELECT doc_id, text FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents
        WHERE doc_id < 300)
      GROUP BY content_hash)
    ORDER BY content_hash
    """,
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AS A STREAM: documents arrive in micro-batches with
    planted duplicate copies; ``dropDuplicates`` on the content hash keeps
    state across batches so a duplicate arriving ANY number of batches later
    is suppressed — the way a 100 TB ingest pipeline dedups against history
    without re-scanning it (state store holds one 128-bit digest per seen
    document, not the corpus). Emits each hash once (append mode); the
    oracle recomputes the distinct-hash set with its duplicate-source count
    relationally."""
    docs = (tbl(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300).select("doc_id", "text"))
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    # several files => several micro-batches; copies land in different
    # batches than originals, so suppression must cross batch boundaries
    src = staged_source(spark, sf_dir, "documents_lt300_and_copies", 6,
                        lambda: corpus)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 2).parquet(src))
    deduped = (stream
               .withColumn("content_hash", F.md5("text"))
               .dropDuplicates(["content_hash"])
               .select("content_hash"))
    sink = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (deduped.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    out = spark.table(sink)
    # n_sources joined back from the batch corpus: proves every distinct
    # hash appeared in both the original and the copy stream half
    sources = (corpus.withColumn("content_hash", F.md5("text"))
               .groupBy("content_hash")
               .agg(F.size(F.collect_set(
                   F.when(F.col("doc_id") < 100000, "orig")
                   .otherwise("copy"))).alias("n_sources")))
    return (out.join(sources, "content_hash")
            .select("content_hash", "n_sources").orderBy("content_hash"))


@query(
    "streaming_incremental_rollup",
    survey="I(incremental materialized-view maintenance: per-batch partial "
           "aggregates appended, merged on read, compacted offline)",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_incremental_rollup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The IVM loop end-to-end: events stream in micro-batches, each batch
    is reduced to per-group PARTIALS (count + scaled-integer sum) and
    appended — the full input is never re-scanned; the view answer merges
    the partials; a mid-test compact() folds the log without changing
    answers. Hash-matching the plain batch aggregate proves the
    associativity argument (streaming/ivm.py) end-to-end, including across
    the compaction boundary."""
    from server2_vector_search_server_spark.streaming.ivm import (
        HourlyRollupView, start_rollup_stream,
    )

    src = staged_source(spark, sf_dir, "events", 6)
    work = scratch_dir("ivm_rollup_")
    view = HourlyRollupView(spark, os.path.join(work, "view"))
    q = start_rollup_stream(spark, src, view, os.path.join(work, "ckpt"),
                            max_files_per_trigger=2)
    q.awaitTermination()
    view.compact()   # answers must be invariant across compaction
    return view.current().orderBy("window_start", "event_type")


@query(
    "streaming_running_totals",
    survey="I(custom arbitrary-stateful operator: applyInPandasWithState "
           "per-user running totals across micro-batches)",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS total_value
    FROM events
    WHERE user_id < 300
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState operator run end-to-end: events stream in
    micro-batches, per-user (count, exact-cents sum) state carries between
    triggers, update-mode emissions land in a memory sink, and the LAST
    emission per user (max_by on the monotone count) must equal the batch
    aggregate — state accumulation in scaled integers makes the custom
    Python stateful path bit-identical to SQL, so the driver's value hash
    gates it like any relational query."""
    from server2_vector_search_server_spark.streaming.events import (
        running_user_totals,
    )

    src = staged_source(
        spark, sf_dir, "events_user_lt300", 6,
        lambda: tbl(spark, sf_dir, "events").filter(F.col("user_id") < 300))
    stream = read_events_stream(spark, src, maxFilesPerTrigger=2)
    sink = f"running_totals_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (running_user_totals(stream)
             .writeStream.format("memory").queryName(sink)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    emissions = spark.table(sink)
    return (
        emissions.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max_by("total_value", "n_events").alias("total_value"))
        .orderBy("user_id")
    )


@query(
    "streaming_late_data_watermark",
    survey="I(watermark semantics under append mode: late rows DROPPED, "
           "windows finalized only once the watermark passes them)",
    oracle=f"""
    -- the stream delivers the LATER half of the timeline first; by the
    -- time the earlier half arrives, the watermark (max event time - 1h)
    -- has passed it entirely, so every early row is dropped, and append
    -- mode emits only windows whose END the final watermark passed
    WITH wm AS (
      SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events)
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum('value', 2)} AS total_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
    GROUP BY window_start, event_type
    HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    ORDER BY window_start, event_type
    """,
)
def streaming_late_data_watermark(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """PROOF of watermark semantics, not just presence. Two checkpointed
    runs: run 1 ingests only the LATER half of the timeline, committing a
    watermark of max-1h; run 2 restarts from the checkpoint and ingests
    the earlier half — every row is now older than the committed
    watermark, so the stateful aggregation DROPS all of them
    (numRowsDroppedByWatermark = the whole file, asserted in
    tests/test_streaming.py) and append mode emits exactly the finalized
    late-half windows (window end <= watermark). The restart matters:
    within a single run the late-row filter uses the PREVIOUS batch's
    watermark, so a same-run delivery would have admitted the old rows —
    the exact subtlety this query pins. The oracle reproduces both effects
    relationally (late-half exclusion + HAVING on the watermark)."""
    from server2_vector_search_server_spark.streaming.events import (
        tumbling_counts,
    )

    work = scratch_dir("late_data_")
    src = os.path.join(work, "stream")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    events = tbl(spark, sf_dir, "events")
    split = "2024-01-16"

    out_dir = os.path.join(work, "emitted")

    def _run():
        # memory sink cannot recover from a checkpoint; foreachBatch ->
        # parquet can, and append mode hands it only FINALIZED windows
        stream = read_events_stream(spark, src)
        with state_partitions(spark):
            q = (tumbling_counts(stream, window="1 hour", watermark="1 hour")
                 .writeStream
                 .foreachBatch(lambda df, bid:
                               df.write.mode("append").parquet(out_dir))
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()

    (events.filter(F.col("ts") >= split).coalesce(1)
     .write.mode("append").parquet(src))
    _run()
    (events.filter(F.col("ts") < split).coalesce(1)
     .write.mode("append").parquet(src))
    _run()
    return (spark.read.parquet(out_dir)
            .orderBy("window_start", "event_type"))


@query(
    "streaming_stream_stream_join",
    survey="I(stream-stream interval join: two watermarked streams, "
           "time-range condition bounding both join states)",
    oracle=f"""
    -- every (click, purchase) pair for the same user where the purchase
    -- lands within 30 minutes after the click — the attribution join
    SELECT c.user_id,
           COUNT(*) AS n_attributed,
           CAST(MIN(p.event_id) AS BIGINT) AS first_purchase_event,
           {sql_exact_sum('p.value', 2)} AS attributed_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP)
         <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def streaming_stream_stream_join(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Stream-stream JOIN under readStream: the click stream joins the
    purchase stream of the same source on user + a 30-minute time-range
    condition, both sides watermarked — the watermark plus the range bound
    is what lets Spark EVICT join state (without them, both sides buffer
    forever). Inner-join emissions are complete for a drained availableNow
    stream, so the pair set equals the batch interval join; the memory
    sink holds raw pairs and the per-user attribution rollup is aggregated
    after draining, hash-matched against the batch oracle."""
    src = scratch_dir("ss_join_")
    link_table_files(sf_dir, "events", src)
    clicks = (read_events_stream(spark, src)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "1 hour"))
    purchases = (read_events_stream(spark, src)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_event"),
                         F.col("value").alias("p_value"))
                 .withWatermark("p_ts", "1 hour"))
    joined = clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts >= c_ts "
               "AND p_ts <= c_ts + INTERVAL 30 MINUTES"))
    sink = f"ss_join_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (joined.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    pairs = spark.table(sink)
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_attributed"),
             F.min("p_event").alias("first_purchase_event"),
             (F.sum(F.round(F.col("p_value") * 100).cast("long")) / 100.0)
             .alias("attributed_value"))
        .orderBy("user_id")
    )


@query(
    "streaming_dedup_ttl",
    survey="I(state-BOUNDED streaming dedup: dropDuplicatesWithinWatermark "
           "— cross-batch suppression inside the watermark window, state "
           "eviction + late-row filtering beyond it; the 100 TB-safe "
           "variant of streaming_dedup_exact's unbounded state)",
    oracle="""
    SELECT * FROM (VALUES
      ('b1_initial_keys',            CAST(100 AS BIGINT)),
      ('b2_fresh_keys',              CAST(10 AS BIGINT)),
      ('b2_inwindow_dupes_emitted',  CAST(0 AS BIGINT)),
      ('b3_expired_dupes_emitted',   CAST(0 AS BIGINT)),
      ('total_emitted',              CAST(110 AS BIGINT))
    ) AS t(probe, n) ORDER BY probe
    """,
)
def streaming_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` end-to-end over three deterministic
    micro-batches (50 s watermark): batch 2's duplicates of still-live keys
    are suppressed ACROSS the batch boundary; batch 3's duplicates of
    evicted keys are filtered as late data (numRowsDroppedByWatermark), so
    nothing is ever emitted twice AND the state store holds only the
    watermark window — per-key state is evicted instead of growing with
    corpus history (`streaming_dedup_exact` keeps everything; this is the
    eviction-bounded production variant). The emitted multiset is fully
    deterministic, so the probe counts hash-gate the semantics."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def _t(s):
        return base + datetime.timedelta(seconds=s)

    src = scratch_dir("ttl_dedup_")
    stamped: set[str] = set()

    def _write(rows, *, _seq=[0]):
        # repartition(1), NOT coalesce(1): coalescing a freshly
        # parallelized local list folds all default-parallelism slices
        # into ONE task that launches their Python workers sequentially
        # (~5 s for 100 rows at local[32]); repartition keeps the slice
        # evaluation parallel and shuffles the 100 rows (~1 s)
        (spark.createDataFrame(rows, "doc_id long, ts timestamp")
         .repartition(1).write.mode("append").parquet(src))
        # deterministic batch order: the file-stream source orders files
        # by (modificationTime, path) — stamp each write's NEW part files
        # with an explicitly increasing mtime instead of sleeping past
        # the filesystem/stream-source timestamp granularity (was a
        # 1.2 s sleep per batch, 3.6 s of pure wall in every sweep)
        _seq[0] += 1
        for f in sorted(os.listdir(src)):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in stamped:
                os.utime(p, (1_000_000_000 + _seq[0] * 100,) * 2)
                stamped.add(p)

    _write([(i, _t(i)) for i in range(100)])                 # b1
    _write([(i, _t(i)) for i in range(60, 100)]              # b2: live dupes
           + [(i, _t(100 + (i - 100))) for i in range(100, 110)])
    _write([(i, _t(i)) for i in range(0, 31)])               # b3: late dupes
    stream = (spark.readStream.schema("doc_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    deduped = (stream.withWatermark("ts", "50 seconds")
               .dropDuplicatesWithinWatermark(["doc_id"]))
    sink = f"ttl_dedup_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (deduped.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    per_key = spark.table(sink).groupBy("doc_id").count()
    probes = [
        ("b1_initial_keys",
         per_key.filter("doc_id < 100 and count = 1").count()),
        ("b2_fresh_keys",
         per_key.filter("doc_id >= 100 and count = 1").count()),
        ("b2_inwindow_dupes_emitted",
         per_key.filter("doc_id >= 60 and doc_id < 100 and count > 1")
         .count()),
        ("b3_expired_dupes_emitted",
         per_key.filter("doc_id < 31 and count > 1").count()),
        ("total_emitted", spark.table(sink).count()),
    ]
    return (spark.createDataFrame(probes, "probe string, n long")
            .orderBy("probe"))


@query(
    "streaming_static_enrichment",
    survey="I(stream-static join: micro-batch stream enriched against a "
           "broadcast dimension — stateless, no watermark needed; the "
           "third join family next to batch and stream-stream)",
    oracle=f"""
    WITH dim AS (
      SELECT user_id, 'seg_' || CAST(user_id % 7 AS VARCHAR) AS segment
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 400))
    SELECT d.segment,
           COUNT(*) AS n_events,
           {sql_exact_sum('e.value', 2)} AS segment_value
    FROM events e JOIN dim d ON d.user_id = e.user_id
    WHERE e.user_id < 400
    GROUP BY d.segment
    ORDER BY d.segment
    """,
)
def streaming_static_enrichment(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriches each micro-batch
    against a STATIC user→segment dimension. Unlike stream-stream joins
    this is stateless — every batch joins the dim fresh (broadcast-sized
    here; at 100 TB the dim is a slowly-changing table the batches re-read,
    which is why reference-data updates become visible mid-stream). The
    drained enrichment aggregate must equal the batch join; per-batch
    aggregation happens in foreachBatch-free append mode with the rollup
    applied after draining (exact cents sum, hash-gated)."""
    src = staged_source(
        spark, sf_dir, "events_user_lt400", 5,
        lambda: tbl(spark, sf_dir, "events").filter(F.col("user_id") < 400))
    dim = (tbl(spark, sf_dir, "events").filter(F.col("user_id") < 400)
           .select("user_id").distinct()
           .select("user_id",
                   F.concat(F.lit("seg_"),
                            (F.col("user_id") % 7).cast("string"))
                   .alias("segment")))
    stream = read_events_stream(spark, src, maxFilesPerTrigger=2)
    enriched = (stream.join(F.broadcast(dim), "user_id")
                .select("segment", "value"))
    sink = f"enrich_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (enriched.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(sink)
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0)
                 .alias("segment_value"))
            .orderBy("segment"))


@query(
    "streaming_snapshot_ingest",
    survey="I/A5-adjacent(streaming ingest into the snapshot store: "
           "foreachBatch commits tagged by batch id — exactly-once under "
           "replay, one manifest version per micro-batch)",
    oracle="""
    SELECT * FROM (VALUES
      ('distinct_docs',            CAST(40 AS BIGINT)),
      ('replay_added_no_rows',     CAST(0 AS BIGINT)),
      ('rows_after_replay',        CAST(40 AS BIGINT)),
      ('versions_equal_batches',   CAST(1 AS BIGINT))
    ) AS t(probe, n) ORDER BY probe
    """,
)
def streaming_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → foreachBatch → SnapshotChunkStore.append_stream_batch,
    drained twice from the SAME checkpoint: the second drain (Structured
    Streaming's replay regime) finds every batch id already committed in a
    manifest and adds NOTHING — rows, versions, and the replay delta are
    all hash-checked. This is the at-least-once→exactly-once bridge for
    file-landing pipelines at 100 TB: idempotence lives in the TABLE's
    commit protocol, not in hoping the checkpoint never lags the sink."""

    from server2_vector_search_server_spark.sources.snapshots import (
        SnapshotChunkStore,
    )

    root = scratch_dir("snapstream_")
    src = os.path.join(root, "src")
    chk = os.path.join(root, "chk")
    docs = (tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 40))
    name = F.concat(F.lit("doc_"), F.col("doc_id"))
    chunks = docs.select(
        F.md5(name).alias("chunk_id"), F.md5(name).alias("doc_id"),
        name.alias("doc_name"), F.lit(0).alias("chunk_index"),
        F.lit("collection_a").alias("original_collection"),
        F.col("text").alias("content"),
        F.create_map(F.lit("source"), name).alias("metadata"),
        F.array(F.lit(0.1), F.lit(0.2)).cast("array<float>")
        .alias("embedding"),
        F.lit("collection_a").alias("collection"))
    # four source files -> four micro-batches (maxFilesPerTrigger=1)
    chunks.repartitionByRange(4, "doc_name").write.parquet(src)
    store = SnapshotChunkStore(spark, os.path.join(root, "store"))
    schema = spark.read.parquet(src).schema

    def drain():
        with state_partitions(spark):
            q = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "1").parquet(src)
                 .writeStream.foreachBatch(store.append_stream_batch)
                 .option("checkpointLocation", chk)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

    drain()
    rows_first = store.read(None).count()
    versions_first = store.current_version()
    n_batches = len([h for h in store.history()
                     if h["operation"].startswith("stream-append:")])
    drain()   # replay regime: same checkpoint, no new data
    rows_after = store.read(None).count()
    return spark.createDataFrame(
        [("distinct_docs",
          store.read(None).select("doc_name").distinct().count()),
         ("replay_added_no_rows", rows_after - rows_first),
         ("rows_after_replay", rows_after),
         ("versions_equal_batches",
          1 if versions_first == n_batches == store.current_version()
          else 0)],
        "probe string, n long").orderBy("probe")


@query(
    "streaming_stream_stream_left_outer_join",
    survey="I(stream-stream LEFT OUTER join: null-matched left rows are "
           "emitted by WATERMARK EVICTION, not at join time — the third "
           "and subtlest streaming join family after inner and "
           "stream-static)",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
             - INTERVAL 1 HOUR AS w),
    pairs AS (
      SELECT c.user_id, c.event_id AS c_event, c.ts AS c_ts,
             p.event_id AS p_event
      FROM c LEFT JOIN p
        ON p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
    emitted AS (
      SELECT user_id, c_event, p_event FROM pairs, wm
      WHERE p_event IS NOT NULL
         OR c_ts + INTERVAL 30 MINUTE < wm.w)
    SELECT user_id,
           CAST(COUNT(p_event) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN p_event IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unattributed_emitted
    FROM emitted GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_stream_stream_left_outer_join(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: matched pairs emit at join time, but a
    click with NO purchase in its 30-minute window can only emit its
    null-matched row once the global watermark (min of both streams' max
    event time − 1 h) passes the click's last possible match time — before
    that, a matching purchase could still arrive. Spark runs a final
    no-data batch after availableNow drains to advance the watermark and
    flush evictable state, so the emitted set is deterministic: all matched
    pairs + exactly the unmatched clicks whose window closed below the
    final watermark. The oracle reproduces BOTH populations — the eviction
    predicate (strict <) is part of the checked contract. Clicks younger
    than watermark−30 min stay in state and are correctly ABSENT."""
    src = scratch_dir("ss_louter_")
    link_table_files(sf_dir, "events", src)
    clicks = (read_events_stream(spark, src)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("event_id").alias("c_event"))
              .withWatermark("c_ts", "1 hour"))
    purchases = (read_events_stream(spark, src)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_event"))
                 .withWatermark("p_ts", "1 hour"))
    joined = clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts >= c_ts "
               "AND p_ts <= c_ts + INTERVAL 30 MINUTES"),
        "leftOuter")
    sink = f"ss_louter_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (joined.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    pairs = spark.table(sink)
    return (pairs.groupBy(F.col("c_user").alias("user_id"))
            .agg(F.count("p_event").alias("n_attributed"),
                 F.sum(F.col("p_event").isNull().cast("int")).cast("long")
                 .alias("n_unattributed_emitted"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# incremental maintenance of the shipment-edge silver table (SCALE §57)

_EDGE_SUPP_CAP = 100


@query(
    "streaming_edge_table_upkeep",
    survey="I+graph(incremental silver-table maintenance: lineitem stream "
           "⋈ static orders → per-batch DISTINCT → anti-join against the "
           "accumulated pair table → append-only insert; the streaming "
           "twin of the session-memoized shipment_pairs artifact)",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey, o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_suppkey < {_EDGE_SUPP_CAP})
    SELECT l_suppkey AS supplier,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
    FROM pairs GROUP BY l_suppkey ORDER BY supplier
    """,
)
def streaming_edge_table_upkeep(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The shipment-edge silver table maintained INCREMENTALLY — the
    streaming twin of ``graph_queries.shipment_pairs`` (SCALE §57 calls
    that artifact "the bucketed silver table a production pipeline would
    keep"; this query IS that pipeline): lineitem rows arrive in
    micro-batches (file stream, several triggers), each batch joins the
    static orders dimension, reduces to its DISTINCT new pairs, anti-joins
    the accumulated table so only never-seen pairs append, and the final
    per-supplier rollup must hash-match the one-shot batch DISTINCT — the
    incremental view maintenance argument, proved end-to-end. The full
    input is never re-scanned: per trigger the work is batch-sized join +
    batch-sized distinct + anti-join against the accumulated set. At
    100 TB the accumulated side is a key-partitioned table so the
    anti-join prunes to matching partitions, and the append-only pair log
    compacts offline exactly like the ANN index tombstone path; the
    supplier cap here only bounds the driver-checked result, not the
    mechanism."""
    work = scratch_dir("edge_upkeep_")
    out_dir = os.path.join(work, "pairs")
    li = (tbl(spark, sf_dir, "lineitem")
          .filter(F.col("l_suppkey") < _EDGE_SUPP_CAP)
          .select("l_orderkey", "l_suppkey"))
    src = staged_source(spark, sf_dir, "lineitem_supp_orderkeys", 6,
                        lambda: li)
    orders_static = (tbl(spark, sf_dir, "orders")
                     .select("o_orderkey", "o_custkey"))

    def upsert(batch_df, batch_id):
        new = (batch_df.join(orders_static,
                             batch_df.l_orderkey
                             == orders_static.o_orderkey)
               .select("l_suppkey", "o_custkey").distinct())
        if os.path.isdir(out_dir):   # absent until the first batch writes
            new = new.join(spark.read.parquet(out_dir),
                           ["l_suppkey", "o_custkey"], "left_anti")
        new.write.mode("append").parquet(out_dir)

    with state_partitions(spark):
        stream = (spark.readStream.schema(li.schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        q = (stream.writeStream.foreachBatch(upsert)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    pairs = spark.read.parquet(out_dir)
    return (pairs.groupBy(F.col("l_suppkey").alias("supplier"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("o_custkey").alias("custkey_sum"))
            .orderBy("supplier"))


# ---------------------------------------------------------------------------
# Delta-protocol log TAIL: the action log as a streaming source

@query(
    "streaming_delta_log_tail",
    survey="I/A-extension(Delta-protocol log tailed as a stream: JSON "
           "file source over _delta_log, one micro-batch per commit, "
           "add/remove actions folded by commit version into the live "
           "snapshot — the 'Delta table as streaming source' metadata "
           "half, no delta-spark)",
    oracle=f"""
    SELECT CAST(2 AS BIGINT) AS n_live_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_exact_sum(
               'CAST(o_totalprice AS DOUBLE) + CASE WHEN o_orderkey % 2 = 0 '
               'THEN 10.0 ELSE 0.0 END', 2)} AS total_value
    FROM orders WHERE o_orderkey < 100
    """,
)
def streaming_delta_log_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail the engine-written Delta table's ``_delta_log`` with a
    streaming JSON file source (``maxFilesPerTrigger=1`` — each commit
    arrives as its own micro-batch, the way a live writer would produce
    them), collect (version, path, action) rows, fold them IN COMMIT
    ORDER into the live file set, and aggregate the reconstructed
    current snapshot.  Version comes from the commit FILENAME
    (``input_file_name``), not arrival order — the file source does not
    guarantee ordering, and the protocol's reconciliation is
    version-ordered.  Matches the batch reader's version-1 row exactly
    (store_delta_log_time_travel), proving the incremental metadata
    path equals the full fold.  Scale: action rows are manifest-sized;
    the snapshot read is an ordinary parquet scan."""
    import os

    from server2_vector_search_server_spark.plans.layout_queries import (
        _delta_table_root,
    )

    root = _delta_table_root(spark, sf_dir)
    schema = ("add struct<path:string,size:bigint>, "
              "remove struct<path:string>")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .json(os.path.join(root, "_delta_log")))
    acts = stream.select(
        F.regexp_extract(F.input_file_name(), r"(\d{20})\.json", 1)
        .cast("long").alias("version"),
        F.col("add.path").alias("add_path"),
        F.col("remove.path").alias("remove_path"))
    sink = f"delta_tail_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark):
        q = (acts.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    rows = spark.table(sink).collect()          # manifest-sized
    live: "dict[str, bool]" = {}
    # a non-commit file in _delta_log (e.g. a writer's crashed .tmp that a
    # glob still matched) yields version NULL — protocol says ignore it
    rows = [r for r in rows if r["version"] is not None]
    for r in sorted(rows, key=lambda r: r["version"]):
        if r["add_path"] is not None:
            live[r["add_path"]] = True
        if r["remove_path"] is not None:
            live[r["remove_path"]] = False
    files = sorted(os.path.join(root, p) for p, ok in live.items() if ok)
    snap = spark.read.parquet(*files)
    return snap.agg(
        F.lit(len(files)).cast("long").alias("n_live_files"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        exact_sum(F.col("total_price"), 2).alias("total_value"))
