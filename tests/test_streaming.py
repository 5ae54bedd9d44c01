"""Structured Streaming: WAL merge, compaction, checkpoint restart, and the
custom stateful operator (SURVEY.md §2.I)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from server2_vector_search_server_spark.streaming.events import (
    running_user_totals,
)
from server2_vector_search_server_spark.streaming.wal import (
    OP_DELETE, OP_UPSERT, WAL_SCHEMA, WalLog, start_wal_stream,
)


def _wal_rows(*ops):
    """(seq, op, chunk_id, content) -> full WAL row tuples."""
    return [
        (seq, op, cid, cid, f"doc_{cid}", 0, "master", content, None)
        for seq, op, cid, content in ops
    ]


def _write_wal(spark, path, rows, mode="overwrite"):
    spark.createDataFrame(_wal_rows(*rows), WAL_SCHEMA) \
        .coalesce(1).write.mode(mode).parquet(path)


def test_wal_last_write_wins_and_tombstones(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    _write_wal(spark, wal_dir, [
        (1, OP_UPSERT, "a", "a-v1"),
        (2, OP_UPSERT, "b", "b-v1"),
        (3, OP_UPSERT, "a", "a-v2"),     # same-batch overwrite
        (4, OP_DELETE, "b", None),        # tombstone
        (5, OP_UPSERT, "c", "c-v1"),
    ])
    log = WalLog(spark, str(tmp_path / "store"))
    q = start_wal_stream(spark, wal_dir, log, str(tmp_path / "ckpt"))
    q.awaitTermination()
    state = {r["chunk_id"]: r["content"]
             for r in log.current_state().collect()}
    assert state == {"a": "a-v2", "c": "c-v1"}


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_wal_checkpoint_restart_consumes_only_new_files(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    log = WalLog(spark, str(tmp_path / "store"))

    _write_wal(spark, wal_dir, [(1, OP_UPSERT, "a", "a-v1")])
    q = start_wal_stream(spark, wal_dir, log, ckpt)
    q.awaitTermination()
    n_first = spark.read.parquet(log.log_dir).count()
    assert n_first == 1

    # second delivery: a delete for `a`, an upsert for `b`
    _write_wal(spark, wal_dir, [(2, OP_DELETE, "a", None),
                                (3, OP_UPSERT, "b", "b-v1")], mode="append")
    q = start_wal_stream(spark, wal_dir, log, ckpt)
    q.awaitTermination()
    # exactly-once: the first file was not reprocessed (1 + 2 log rows)
    assert spark.read.parquet(log.log_dir).count() == 3
    state = {r["chunk_id"]: r["content"]
             for r in log.current_state().collect()}
    assert state == {"b": "b-v1"}


def test_wal_replay_spans_multiple_micro_batches(spark, tmp_path):
    """r11 pin (VERDICT r10 #9): a multi-file WAL must replay across >= 2
    micro-batches so the cross-batch last-write-wins ordering is actually
    exercised — with maxFilesPerTrigger >= file count the stream collapses
    to one batch and certifies nothing about batch boundaries. Each
    committed micro-batch leaves one offsets file in the checkpoint."""
    wal_dir = str(tmp_path / "wal")
    # four single-row files (one per seq) — ops that only merge correctly
    # if later batches overwrite earlier state
    for seq, op, cid, content in [
        (1, OP_UPSERT, "a", "a-v1"),
        (2, OP_UPSERT, "b", "b-v1"),
        (3, OP_DELETE, "a", None),
        (4, OP_UPSERT, "b", "b-v2"),
    ]:
        _write_wal(spark, wal_dir, [(seq, op, cid, content)], mode="append")
    ckpt = str(tmp_path / "ckpt")
    log = WalLog(spark, str(tmp_path / "store"))
    q = start_wal_stream(spark, wal_dir, log, ckpt)
    q.awaitTermination()
    offsets = [f for f in os.listdir(os.path.join(ckpt, "offsets"))
               if not f.startswith(".")]
    assert len(offsets) >= 2, f"expected >=2 micro-batches, got {offsets}"
    state = {r["chunk_id"]: r["content"]
             for r in log.current_state().collect()}
    assert state == {"b": "b-v2"}


def test_wal_compact_preserves_state(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    _write_wal(spark, wal_dir, [
        (1, OP_UPSERT, "a", "a-v1"),
        (2, OP_UPSERT, "b", "b-v1"),
        (3, OP_DELETE, "a", None),
    ])
    log = WalLog(spark, str(tmp_path / "store"))
    q = start_wal_stream(spark, wal_dir, log, str(tmp_path / "ckpt"))
    q.awaitTermination()
    before = sorted(
        (r["chunk_id"], r["content"]) for r in log.current_state().collect())
    log.compact()
    assert not os.path.isdir(log.log_dir)          # log folded into base
    after = sorted(
        (r["chunk_id"], r["content"]) for r in log.current_state().collect())
    assert before == after == [("b", "b-v1")]


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState across micro-batches: two file deliveries, state
    carries between triggers, final emission equals the batch aggregate."""
    src = str(tmp_path / "events")
    rows1 = [(1, 10, 1.5), (2, 10, 2.5), (3, 20, 1.0)]
    rows2 = [(4, 10, 4.0), (5, 30, 9.0)]
    schema = "event_id long, user_id long, value double"
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory").queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q = (
        running_user_totals(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory").queryName("running_totals2")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # second run has no checkpoint -> reprocesses all files in one pass;
    # per-user cumulative totals must equal the batch aggregate
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table("running_totals2").collect()}
    assert got == {10: (3, 8.0), 20: (1, 1.0), 30: (1, 9.0)}


def test_session_window_end_is_last_event_plus_gap(spark):
    from server2_vector_search_server_spark.streaming.events import (
        session_stats,
    )

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0),
         (1, "2024-01-01 00:10:00", 1.0),     # same session (gap 30m)
         (1, "2024-01-01 01:00:00", 1.0)],    # 50m later -> new session
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [(str(r["session_start"]), str(r["session_end"]), r["n_events"])
           for r in session_stats(events, gap="30 minutes")
           .orderBy("session_start").collect()]
    assert got == [
        ("2024-01-01 00:00:00", "2024-01-01 00:40:00", 2),
        ("2024-01-01 01:00:00", "2024-01-01 01:30:00", 1),
    ]


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_streaming_document_ingest_dedup_gate(spark, tmp_path):
    """Document stream -> foreachBatch full ingest pipeline: the global
    dedup gate skips names already stored by earlier micro-batches, and
    redelivered names after a checkpoint reset stay no-ops."""
    from server2_vector_search_server_spark.sources.store import ChunkStore
    from server2_vector_search_server_spark.streaming.ingest import (
        start_document_ingest_stream,
    )

    src = str(tmp_path / "docs")
    store = ChunkStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("a.txt", "alpha text one"), ("b.txt", "beta text two"),
         ("a.txt", "in-batch duplicate of a")],
        "doc_name string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    q = start_document_ingest_stream(spark, src, store, ckpt,
                                     collection="collection_a")
    q.awaitTermination()
    docs1 = {r["doc_name"] for r in store.list_documents().collect()}
    assert docs1 == {"a.txt", "b.txt"}

    # second delivery: one new name, one already-stored name
    spark.createDataFrame(
        [("b.txt", "redelivered"), ("c.txt", "gamma text three")],
        "doc_name string, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_document_ingest_stream(spark, src, store, ckpt,
                                     collection="collection_b")
    q.awaitTermination()
    rows = store.read(None).select("doc_name", "collection").distinct().collect()
    got = {(r["doc_name"], r["collection"]) for r in rows}
    assert got == {("a.txt", "collection_a"), ("b.txt", "collection_a"),
                   ("c.txt", "collection_b")}
    # b.txt was NOT re-ingested into collection_b (gate is global)
    assert store.read("collection_b").select("doc_name").distinct().count() == 1


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_streaming_ingest_gate_across_in_flight_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 forces one file per micro-batch inside a SINGLE
    stream run: batch 2's redelivered name must hit the gate against batch
    1's just-written state (foreachBatch batches are strictly sequential),
    and first-seen text wins."""
    from server2_vector_search_server_spark.sources.store import ChunkStore
    from server2_vector_search_server_spark.streaming.ingest import (
        start_document_ingest_stream,
    )

    src = str(tmp_path / "docs")
    store = ChunkStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([("a.txt", "first version"), ("d.txt", "delta")],
                          "doc_name string, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([("a.txt", "second version"), ("e.txt", "epsilon")],
                          "doc_name string, text string") \
        .coalesce(1).write.mode("append").parquet(src)

    q = start_document_ingest_stream(spark, src, store, ckpt,
                                     collection="collection_a",
                                     max_files_per_trigger=1)
    q.awaitTermination()
    assert q.lastProgress is not None

    names = {r["doc_name"] for r in store.list_documents().collect()}
    assert names == {"a.txt", "d.txt", "e.txt"}
    a_text = " ".join(
        r["content"] for r in store.read(None)
        .filter(F.col("doc_name") == "a.txt")
        .orderBy("chunk_index").collect())
    assert "first version" in a_text and "second" not in a_text


def test_ivm_rollup_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch replay of the same batch_id must overwrite its own
    partial-aggregate partition, not double-count (the same
    dynamic-partition-overwrite discipline as the streaming ANN index)."""
    from server2_vector_search_server_spark.streaming.ivm import (
        HourlyRollupView,
    )

    from datetime import datetime

    rows = [(1, datetime(2024, 1, 1, 10, 5), 1, "click", 1.5, "{}"),
            (2, datetime(2024, 1, 1, 10, 35), 1, "click", 2.5, "{}"),
            (3, datetime(2024, 1, 1, 11, 5), 2, "view", 4.0, "{}")]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    batch = spark.createDataFrame(rows, schema)
    view = HourlyRollupView(spark, str(tmp_path / "view"))
    view.apply_batch(batch, batch_id=3)
    view.apply_batch(batch, batch_id=3)   # replay
    got = {(str(r["window_start"]), r["event_type"]):
           (r["n_events"], r["total_value"])
           for r in view.current().collect()}
    assert got == {("2024-01-01 10:00:00", "click"): (2, 4.0),
                   ("2024-01-01 11:00:00", "view"): (1, 4.0)}
    # compaction folds the log without changing answers
    view.compact()
    after = {(str(r["window_start"]), r["event_type"]):
             (r["n_events"], r["total_value"])
             for r in view.current().collect()}
    assert after == got


def test_watermark_drops_late_rows_on_restart(spark, tables, tmp_path):
    """The late-row filter uses the checkpointed watermark on restart:
    run 1 commits watermark = max(late half) - 1h; run 2's early-half rows
    are all older and must be counted by numRowsDroppedByWatermark."""
    from server2_vector_search_server_spark.session import (
        read_events_stream,
    )
    from server2_vector_search_server_spark.streaming.events import (
        tumbling_counts,
    )

    events = tables["events"]
    src = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emitted")
    split = "2024-01-16"

    def run():
        stream = read_events_stream(spark, src)
        q = (tumbling_counts(stream, window="1 hour", watermark="1 hour")
             .writeStream
             .foreachBatch(lambda df, bid:
                           df.write.mode("append").parquet(out))
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return q

    events.filter(F.col("ts") >= split).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    # the drop counter sits AFTER partial aggregation, so it counts
    # dropped (window, event_type) partial rows, not raw events
    n_early_groups = (events.filter(F.col("ts") < split)
                      .select(F.date_trunc("hour", "ts"), "event_type")
                      .distinct().count())
    events.filter(F.col("ts") < split).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = run()
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in q2.recentProgress if p["stateOperators"])
    assert dropped == n_early_groups > 0
    # nothing from the early half survived into the emitted windows
    emitted = spark.read.parquet(out)
    assert emitted.filter(F.col("window_start") < split).count() == 0


def test_ivm_compact_spares_uncommitted_batches(spark, tmp_path):
    """ADVICE r02: compacting a batch whose partials were written but whose
    streaming checkpoint commit is missing would double-count it on replay
    (the fold absorbs its rows AND the replayed batch re-writes its
    partition). compact(checkpoint_dir) must fold only committed batches."""
    import os

    from datetime import datetime

    from server2_vector_search_server_spark.streaming.ivm import (
        HourlyRollupView,
    )

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 5), 1, "click", 1.0, "{}")], schema)
    b1 = spark.createDataFrame(
        [(2, datetime(2024, 1, 1, 10, 35), 1, "click", 2.0, "{}")], schema)
    view = HourlyRollupView(spark, str(tmp_path / "view"))
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("v1")   # batch 0 committed...
    view.apply_batch(b0, batch_id=0)
    view.apply_batch(b1, batch_id=1)            # ...batch 1 is NOT

    view.compact(str(ckpt))
    # batch 1's partition survived verbatim; batch 0 folded into the base
    parts = {d for d in os.listdir(view.log_dir)
             if d.startswith("ingest_batch=")}
    assert parts == {"ingest_batch=-1", "ingest_batch=1"}

    before = {(str(r["window_start"]), r["event_type"]):
              (r["n_events"], r["total_value"])
              for r in view.current().collect()}
    assert before == {("2024-01-01 10:00:00", "click"): (2, 3.0)}
    view.apply_batch(b1, batch_id=1)            # crash-replay of batch 1
    after = {(str(r["window_start"]), r["event_type"]):
             (r["n_events"], r["total_value"])
             for r in view.current().collect()}
    assert after == before                      # idempotent, not 3 events


def test_ivm_compact_swap_is_crash_recoverable(spark, tmp_path):
    """A crash between compact()'s two renames leaves the log at '.old';
    readers and the next compact must restore it, never serve nothing."""
    import os

    from datetime import datetime

    from server2_vector_search_server_spark.streaming.ivm import (
        HourlyRollupView,
    )

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    view = HourlyRollupView(spark, str(tmp_path / "view"))
    view.apply_batch(spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 0), 1, "view", 5.0, "{}")], schema), 0)
    want = {(str(r["window_start"]), r["event_type"]):
            (r["n_events"], r["total_value"])
            for r in view.current().collect()}
    os.rename(view.log_dir, view.log_dir + ".old")   # simulated mid-swap crash
    got = {(str(r["window_start"]), r["event_type"]):
           (r["n_events"], r["total_value"])
           for r in view.current().collect()}
    assert got == want


def test_read_events_stream_from_empty_directory(spark, tmp_path, caplog):
    """ADVICE r02: a stream source directory that exists but has no parquet
    yet (files arrive later) must not fail the schema peek — fall back to
    the plain-micros layout, log it, and pick up files written after start.
    The failed peek is not memoized: once a file is there, a new stream
    peeks it. A file that is not parquet is an error, not a fallback."""
    import logging
    from datetime import datetime

    from pyspark.errors import AnalysisException

    from server2_vector_search_server_spark.session import read_events_stream

    src = tmp_path / "events_src"
    src.mkdir()
    with caplog.at_level(logging.WARNING):
        stream = read_events_stream(spark, str(src))   # must not raise
    assert any("assuming the micros layout" in r.getMessage()
               for r in caplog.records)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    spark.createDataFrame(
        [(1, datetime(2024, 2, 1, 8, 0), 7, "click", 1.0, "{}")],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    out = str(tmp_path / "out")
    q = (stream.writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["event_type"] == "click"

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        read_events_stream(spark, str(src))
    assert not [r for r in caplog.records   # peeked the file: no fallback
                if r.name == "server2_vector_search_server_spark.session"]

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet footer")
    with pytest.raises(Exception) as err:   # the failed footer-read job
        read_events_stream(spark, str(bad))
    assert not isinstance(err.value, AnalysisException)


def test_running_user_totals_tws_v2(spark, tmp_path):
    """transformWithStateInPandas (v2 stateful API) twin: same totals as
    the v1 operator. The TWS driver worker speaks protobuf to the JVM
    state server, so this is environment-gated (skipped — not faked —
    where protobuf is missing), mirroring the real-model embedder gate."""
    import pytest
    pytest.importorskip("google.protobuf")
    from server2_vector_search_server_spark.streaming.events import (
        running_user_totals_tws,
    )

    src = str(tmp_path / "events_tws")
    rows = [(1, 10, 1.5), (2, 10, 2.5), (3, 20, 1.0), (4, 10, 4.0)]
    schema = "event_id long, user_id long, value double"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        q = (running_user_totals_tws(
                spark.readStream.schema(schema).parquet(src))
             .writeStream.format("memory").queryName("running_totals_tws")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table("running_totals_tws").collect()}
    assert got == {10: (3, 8.0), 20: (1, 1.0)}


def test_running_totals_tws_error_propagates():
    """VERDICT r8 item 2: ``RunningTotalsProcessor.close()`` is a required
    lifecycle no-op, NOT an exception handler — nothing in the processor
    swallows a batch failure.  Driven directly (no Spark, no protobuf
    gate): a poisoned input batch raises out of handleInputRows, and
    close() returns None without touching state."""
    import pandas as pd
    import pytest

    from server2_vector_search_server_spark.streaming.events import (
        RunningTotalsProcessor,
    )

    class _FakeState:
        def __init__(self):
            self.value = None

        def exists(self):
            return self.value is not None

        def get(self):
            return self.value

        def update(self, v):
            self.value = v

    class _FakeHandle:
        def getValueState(self, name, schema):
            return _FakeState()

    proc = RunningTotalsProcessor()
    proc.init(_FakeHandle())
    out = list(proc.handleInputRows(
        (10,), [pd.DataFrame({"value": [1.5, 2.5]})], None))
    assert out[0]["n_events"].iloc[0] == 2
    assert out[0]["total_value"].iloc[0] == 4.0
    # a poisoned batch (non-numeric value column) must RAISE, not yield
    with pytest.raises(Exception):
        list(proc.handleInputRows(
            (10,), [pd.DataFrame({"value": ["not-a-number"]})], None))
    # state still holds the last good totals; close() is a pure no-op
    assert proc._totals.get() == (2, 400)
    assert proc.close() is None
    assert proc._totals.get() == (2, 400)


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_fuzzy_dedup_stream_replay_is_idempotent(spark, tmp_path):
    """Full replay against existing state/kept dirs (checkpoint wiped) must
    converge to the same kept set: per-batch dynamic partition overwrite
    rewrites each batch's partition instead of double-counting it."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.streaming.fuzzy_dedup import (
        run_minhash_dedup_stream,
    )
    from tests.conftest import SF_SMOKE

    load_registry()
    from server2_vector_search_server_spark.plans.dedup_queries import (
        _docs_with_dups,
    )

    docs = _docs_with_dups(spark, SF_SMOKE)
    src = str(tmp_path / "src"); os.makedirs(src)
    lo = docs.filter(F.col("doc_id") < 10000)
    hi = docs.filter(F.col("doc_id") >= 10000)
    for i, b in enumerate((lo, hi)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [p for p in os.listdir(stage) if p.endswith(".parquet")][0]
        os.rename(os.path.join(stage, part),
                  os.path.join(src, f"batch_{i}.parquet"))
        _time.sleep(1.1)
    state, kept = str(tmp_path / "state"), str(tmp_path / "kept")
    run_minhash_dedup_stream(spark, src, state_dir=state, kept_dir=kept,
                             checkpoint_dir=str(tmp_path / "ckpt1"))
    first = sorted(r["doc_id"] for r in
                   spark.read.parquet(kept).select("doc_id").collect())
    # crash-recovery analog: checkpoint lost, every batch replays against
    # the surviving state/kept dirs
    run_minhash_dedup_stream(spark, src, state_dir=state, kept_dir=kept,
                             checkpoint_dir=str(tmp_path / "ckpt2"))
    second = sorted(r["doc_id"] for r in
                    spark.read.parquet(kept).select("doc_id").collect())
    assert first == second and len(first) > 0


def test_state_partitions_pins_and_restores(spark):
    """The stream-start conf pin (SCALE §55): inside the context the
    session plans streams with the pinned partition count; the previous
    value is restored on BOTH normal exit and exception (a leaked pin
    would silently shrink every later BATCH shuffle in the session)."""
    from server2_vector_search_server_spark.plans.registry import (
        state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with state_partitions(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before
    try:
        with state_partitions(spark, 3):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_incremental_rollup_warm_call_job_budget(spark, spark_jobs):
    """A warm call of streaming_incremental_rollup runs only its compact()
    jobs in the caller's job group before the final action: the events
    schema is memoized and the 6-file stream source is staged once per
    process (micro-batches run in the stream's own job group). Re-copying
    the source and re-inferring its schema on every call ran 6. Rows equal
    the first call's."""
    from server2_vector_search_server_spark.plans import load_registry
    from tests.conftest import SF_SMOKE

    fn = load_registry()["streaming_incremental_rollup"].fn
    first = fn(spark, SF_SMOKE)
    warm = []
    jobs = spark_jobs(lambda: warm.append(fn(spark, SF_SMOKE)))
    assert jobs <= 2, jobs
    assert sorted(warm[0].collect()) == sorted(first.collect())
