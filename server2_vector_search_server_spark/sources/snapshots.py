"""Snapshot-isolated chunk store: manifest commits + time travel.

``ChunkStore`` (``sources/store.py``) mutates partitions IN PLACE
(dynamic-partition overwrite). Correct for a single writer with no readers
mid-rewrite — but at 100 TB a long-running scan that overlaps a delete/
upsert rewrite can read a partition directory mid-swap and see partial
state. Table formats solve this with an immutable-file + manifest design
(Iceberg's snapshot list / Delta's transaction log — public designs);
this module is that protocol on plain parquet:

  * data files are IMMUTABLE — every commit writes new files under a fresh
    ``data/c{N}-*/`` directory and never touches existing ones;
  * a snapshot is a JSON manifest listing exactly the live files;
    ``_manifests/v{N}.json`` is written to a temp name and ``os.rename``d
    into place — the atomic commit point (single-writer; a multi-writer
    deployment puts a CAS on this rename, which is precisely what
    Delta/Iceberg catalogs do);
  * readers resolve a manifest ONCE and then only ever open files it
    names: a scan started at v3 is unaffected by later commits (snapshot
    isolation), and ``read(version=2)`` is time travel for free;
  * logical delete/upsert rewrites only the files that contain affected
    rows — untouched files carry over into the new manifest by reference,
    so commit cost tracks the touched-file footprint, not the table;
  * old versions are reclaimed by ``expire(keep_last)`` — the GC that
    Iceberg calls expire-snapshots — never by the commit itself.

Reference parity: same observable semantics as ``ChunkStore`` (append /
upsert-by-doc_id / delete-by-doc_id / collection-pruned scan), with
history. Cite: the reference persists Chroma sqlite stores with no
isolation story at all (single-process FastAPI, ``vector_store.py``); this
is what that contract has to become on a 1000-executor cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark.sources.store import (
    CHUNKS_COLS as _COLS,
    CHUNKS_SCHEMA,
    ChunkStore,
)


class SnapshotChunkStore:
    """Immutable-file chunk table with atomic manifest commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest protocol ---------------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            int(name[1:-5]) for name in os.listdir(self.manifest_dir)
            if name.startswith("v") and name.endswith(".json"))

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int) -> dict:
        path = os.path.join(self.manifest_dir, f"v{version}.json")
        with open(path) as fh:
            return json.load(fh)

    def _live_files(self, version: int | None = None) -> list[str]:
        v = self.current_version() if version is None else version
        if v == 0:
            return []
        return self._manifest(v)["files"]

    def _commit(self, files: list[str], op: str) -> int:
        """Write manifest v{N+1} atomically (tmp + rename)."""
        v = self.current_version() + 1
        doc = {"version": v, "operation": op, "files": sorted(files)}
        tmp = os.path.join(self.manifest_dir, f".v{v}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.rename(tmp, os.path.join(self.manifest_dir, f"v{v}.json"))
        return v

    def _write_data(self, df: DataFrame) -> list[str]:
        """Materialize rows as new immutable files; return their paths."""
        import pyarrow.parquet as pq

        out = os.path.join(self.data_dir,
                           f"c{self.current_version() + 1}-{uuid.uuid4().hex[:8]}")
        df.select(*_COLS).write.mode("error").parquet(out)
        files = []
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(out, name)
            # parallel writes emit zero-row part files for empty partitions;
            # referencing them bloats manifests and pins commit dirs in GC
            if pq.ParquetFile(path).metadata.num_rows == 0:
                os.remove(path)
            else:
                files.append(path)
        return files

    # -- reads ---------------------------------------------------------------
    def read(self, collection: str | None = None,
             version: int | None = None) -> DataFrame:
        """Scan a snapshot (default: latest). The file list is resolved
        HERE, once — the returned DataFrame never lists directories, so
        later commits (or expiry of OTHER versions) cannot change or break
        what this scan reads: snapshot isolation."""
        from server2_vector_search_server_spark import config

        files = self._live_files(version)
        if not files:
            df = self.spark.createDataFrame([], CHUNKS_SCHEMA)
        else:
            df = self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
        if collection and collection != config.MASTER_COLLECTION_NAME:
            df = df.filter(F.col("collection") == collection)
        return df

    def is_empty(self) -> bool:
        """ChunkStore-contract probe: no snapshot, or the latest snapshot
        references no files."""
        return not self._live_files()

    document_exists = ChunkStore.document_exists

    def list_documents(self, collection: str | None = None) -> DataFrame:
        from server2_vector_search_server_spark.operators.catalog import (
            list_documents,
        )

        return list_documents(self.read(collection))

    def history(self) -> list[dict]:
        return [{"version": v, "operation": self._manifest(v)["operation"],
                 "n_files": len(self._manifest(v)["files"])}
                for v in self.versions()]

    # -- writes (each is one atomic commit) ----------------------------------
    def append(self, chunks: DataFrame) -> int:
        new = self._write_data(chunks)
        return self._commit(self._live_files() + new, "append")

    def upsert(self, chunks: DataFrame) -> int:
        """MERGE-by-doc_id: files containing affected doc_ids are replaced
        by rewritten copies (affected rows dropped); untouched files carry
        over BY REFERENCE. Commit cost ∝ touched files, not table size."""
        incoming = chunks.select(*_COLS).localCheckpoint(eager=True)
        ids = [r["doc_id"] for r in
               incoming.select("doc_id").distinct().collect()]
        survivors, carried = self._split_files(ids)
        new = self._write_data(incoming)
        rewritten: list[str] = []
        if survivors is not None:
            rewritten = self._write_data(survivors)
        return self._commit(carried + rewritten + new, "upsert")

    def delete_document(self, doc_id: str) -> int:
        survivors, carried = self._split_files([doc_id])
        rewritten: list[str] = []
        if survivors is not None:
            rewritten = self._write_data(survivors)
        return self._commit(carried + rewritten, "delete")

    def _split_files(self, doc_ids: list[str], files: list[str] | None = None):
        """(survivor rows from touched files | None, untouched file list).

        One footprint scan finds which files contain the doc_ids (parquet
        min/max row-group stats make this cheap on id-sorted files; the
        input_file_name aggregate is files-count-sized). ``files`` defaults
        to the latest global manifest; ref-aware subclasses pass a ref
        head's file list instead."""
        files = self._live_files() if files is None else files
        if not files:
            return None, []
        table = (self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
                 .withColumn("_file", F.input_file_name()))
        # input_file_name() returns a percent-encoded file: URI — decode it
        # before comparing against os.path strings, or any store root with
        # spaces/'%'/non-ASCII makes every file look untouched and
        # delete/upsert silently carry stale rows forward (ADVICE r3)
        from urllib.parse import unquote, urlparse

        def _local_path(uri: str) -> str:
            parsed = urlparse(uri)
            # only a real URI is percent-encoded; a bare path with a
            # literal '%' must NOT be unquoted
            if parsed.scheme:
                return os.path.normpath(unquote(parsed.path))
            return os.path.normpath(uri)

        touched = {_local_path(r["_file"])
                   for r in table.filter(F.col("doc_id").isin(doc_ids))
                   .select("_file").distinct().collect()}
        carried = [f for f in files
                   if os.path.normpath(os.path.abspath(f)) not in touched]
        if len(carried) == len(files):
            return None, carried
        touched_files = [f for f in files
                         if os.path.normpath(os.path.abspath(f)) in touched]
        # no checkpoint needed: the lineage reads IMMUTABLE files that stay
        # on disk until expire() — the commit can never invalidate them
        survivors = (self.spark.read.schema(CHUNKS_SCHEMA)
                     .parquet(*touched_files)
                     .filter(~F.col("doc_id").isin(doc_ids)))
        return survivors, carried

    def append_stream_batch(self, batch: DataFrame, batch_id: int) -> int:
        """``foreachBatch`` sink with EXACTLY-ONCE commits.

        Structured Streaming replays a micro-batch whose foreachBatch ran
        but whose checkpoint offset never committed (crash in between) —
        the classic at-least-once window. The manifest gives idempotence
        for free: the commit is tagged with the batch id, a replay finds
        the tag and returns without writing. Orphan data files from a
        crash BETWEEN ``_write_data`` and ``_commit`` are never referenced
        by any manifest, so ``expire``'s GC reclaims them. This is the
        same txn-id dance Delta's idempotent writes do
        (``txnAppId``/``txnVersion`` — public API).
        """
        tag = f"stream-append:{batch_id}"
        if tag in self._consumed_stream_tags():
            return self.current_version()
        for v in reversed(self.versions()):
            if self._manifest(v)["operation"] == tag:
                return v
        new = self._write_data(batch)
        return self._commit(self._live_files() + new, tag)

    _LEDGER = "stream_ledger.json"

    def _ledger_path(self) -> str:
        return os.path.join(self.manifest_dir, self._LEDGER)

    def _consumed_stream_tags(self) -> set[str]:
        """Batch tags whose manifests have been expired. The tag scan over
        live manifests alone has a hole (ADVICE r3): if ``expire`` prunes
        the tagged manifest BEFORE Structured Streaming replays an
        uncommitted batch (crash window), the replay appends twice. The
        ledger is the Delta-txnVersion-style fix — ``expire`` folds the
        tags of every manifest it deletes in here, so a consumed batch id
        is always findable in exactly one of the two places."""
        try:
            with open(self._ledger_path()) as fh:
                return set(json.load(fh)["tags"])
        except (OSError, ValueError, KeyError):
            return set()

    def _fold_tags_into_ledger(self, tags: set[str]) -> None:
        if not tags:
            return
        merged = sorted(self._consumed_stream_tags() | tags)
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"tags": merged}, fh)
        os.rename(tmp, self._ledger_path())

    # -- maintenance ---------------------------------------------------------
    def compact(self, rows_per_file: int = 100_000) -> int:
        """OPTIMIZE as a COMMIT: fold the accumulated small files into
        right-sized ones and publish that as the next version. Unlike
        ``ChunkStore.compact`` this never disturbs readers — old versions
        (and any in-flight scan) keep their files until ``expire``; the
        content is identical by construction, only the file layout changes.
        """
        files = self._live_files()
        if not files:
            return self.current_version()
        table = self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
        n = table.count()
        n_files = max(1, n // rows_per_file)
        new = self._write_data(table.repartition(n_files))
        return self._commit(new, "compact")

    def expire(self, keep_last: int = 1) -> int:
        """Drop manifests older than the newest ``keep_last`` and delete
        data files no surviving manifest references. Returns files removed.
        This is the ONLY operation that deletes data — commits never do."""
        vs = self.versions()
        keep = set(vs[-keep_last:]) if keep_last > 0 else set()
        live: set[str] = set()
        for v in keep:
            live.update(os.path.normpath(os.path.abspath(f))
                        for f in self._manifest(v)["files"])
        removed = 0
        for commit_dir in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, commit_dir)
            for name in os.listdir(full):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.normpath(os.path.abspath(
                    os.path.join(full, name)))
                if path not in live:
                    os.remove(path)
                    removed += 1
            if not any(n.endswith(".parquet") for n in os.listdir(full)):
                shutil.rmtree(full, ignore_errors=True)
        # fold stream-append tags of pruned manifests into the ledger
        # BEFORE deleting them — the exactly-once replay guard must survive
        # manifest expiry (see _consumed_stream_tags)
        pruned_tags = {self._manifest(v)["operation"] for v in vs
                       if v not in keep
                       and self._manifest(v)["operation"]
                       .startswith("stream-append:")}
        self._fold_tags_into_ledger(pruned_tags)
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.manifest_dir, f"v{v}.json"))
        return removed


class BranchedSnapshotStore(SnapshotChunkStore):
    """Git-like REFS over the linear manifest log — the Nessie / LakeFS
    data-versioning model (public semantics) on top of the same immutable
    files + atomic manifests:

      * every commit still lands an immutable global manifest version;
        a REF is a named pointer (head, base) into that log, persisted in
        ``_refs.json`` alongside the manifests;
      * ``create_branch`` forks a ref at another ref's head — zero copy,
        the fork shares every file by reference;
      * ``commit_on(ref, ...)`` extends THAT ref's head file list (not the
        newest global version), so branch writers and main writers
        interleave without seeing each other: branch isolation is snapshot
        isolation applied per ref;
      * ``merge`` validates the branch's touched doc set against what the
        target changed since the fork (the same touched-set rule as OCC —
        Delta/Iceberg's conflict check, here between REFS):
          - target unchanged since fork → FAST-FORWARD (pointer move, no
            new files, no new manifest);
          - disjoint changes → MERGE COMMIT whose file list is target head
            + the branch's added files (append-only branch deltas share no
            files with the base, so list arithmetic is exact);
          - overlapping doc sets → CONFLICT, nothing moves.

    Scale: refs are O(1) metadata; merge reads only the doc-key deltas of
    the two refs (anti-joins on content digests — delta-proportional; at
    real manifest granularity file-level key ranges answer it driver-side
    without a scan, exactly Iceberg's manifest pruning).
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        self._refs_path = os.path.join(root, "_refs.json")
        if not os.path.exists(self._refs_path):
            self._save_refs({"main": {"head": 0, "base": 0}})

    # -- ref bookkeeping ------------------------------------------------
    def _refs(self) -> dict:
        with open(self._refs_path) as fh:
            return json.load(fh)

    def _save_refs(self, refs: dict) -> None:
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.rename(tmp, self._refs_path)

    def _head_files(self, ref: str) -> list[str]:
        head = self._refs()[ref]["head"]
        return [] if head == 0 else self._manifest(head)["files"]

    # -- branch operations ----------------------------------------------
    def create_branch(self, name: str, from_ref: str = "main") -> None:
        refs = self._refs()
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        head = refs[from_ref]["head"]
        refs[name] = {"head": head, "base": head}
        self._save_refs(refs)

    def _move_ref(self, ref: str, version: int) -> None:
        refs = self._refs()
        refs[ref]["head"] = version
        self._save_refs(refs)

    def commit_on(self, ref: str, chunks: DataFrame) -> int:
        """Append ``chunks`` to ``ref``'s head (branch-isolated commit)."""
        new = self._write_data(chunks)
        v = self._commit(self._head_files(ref) + new, f"append@{ref}")
        self._move_ref(ref, v)
        return v

    # -- ref-routed overrides (ADVICE r6, medium) -------------------------
    # The inherited writers commit on top of the latest GLOBAL manifest —
    # which under branches may be a BRANCH head — and never move a ref, so
    # base append() after a branch commit would silently fold branch files
    # into an orphan commit and break the branch-isolation invariant this
    # class exists to provide. Every write is therefore routed through the
    # 'main' ref: reads via refs, commits followed by a ref move.
    def append(self, chunks: DataFrame) -> int:
        return self.commit_on("main", chunks)

    def upsert(self, chunks: DataFrame) -> int:
        incoming = chunks.select(*_COLS).localCheckpoint(eager=True)
        ids = [r["doc_id"] for r in
               incoming.select("doc_id").distinct().collect()]
        survivors, carried = self._split_files(
            ids, files=self._head_files("main"))
        new = self._write_data(incoming)
        rewritten: list[str] = []
        if survivors is not None:
            rewritten = self._write_data(survivors)
        v = self._commit(carried + rewritten + new, "upsert@main")
        self._move_ref("main", v)
        return v

    def delete_document(self, doc_id: str) -> int:
        survivors, carried = self._split_files(
            [doc_id], files=self._head_files("main"))
        rewritten: list[str] = []
        if survivors is not None:
            rewritten = self._write_data(survivors)
        v = self._commit(carried + rewritten, "delete@main")
        self._move_ref("main", v)
        return v

    def compact(self, rows_per_file: int = 100_000) -> int:
        files = self._head_files("main")
        if not files:
            return self._refs()["main"]["head"]
        table = self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
        n_files = max(1, table.count() // rows_per_file)
        new = self._write_data(table.repartition(n_files))
        v = self._commit(new, "compact@main")
        self._move_ref("main", v)
        return v

    def append_stream_batch(self, batch: DataFrame, batch_id: int) -> int:
        """Exactly-once stream sink on the 'main' ref. Replay detection is
        the base class's tag scan + ledger; additionally, a crash BETWEEN
        the manifest write and the ref move leaves a tagged manifest main
        never adopted — the replay finishes the ref move instead of
        re-appending (single-writer-per-ref, so head < v can only mean the
        interrupted move)."""
        tag = f"stream-append:{batch_id}"
        if tag in self._consumed_stream_tags():
            return self._refs()["main"]["head"]
        for v in reversed(self.versions()):
            if self._manifest(v)["operation"] == tag:
                if self._refs()["main"]["head"] < v:
                    self._move_ref("main", v)
                return v
        new = self._write_data(batch)
        v = self._commit(self._head_files("main") + new, tag)
        self._move_ref("main", v)
        return v

    def read(self, collection: str | None = None,
             version: int | None = None) -> DataFrame:
        """Default (no explicit version) reads the MAIN ref's head, not the
        latest global manifest — the global latest may be a branch head,
        and a ChunkStore-contract reader must never see unmerged branch
        data. Explicit ``version=`` keeps raw time travel into the log."""
        if version is None:
            return self.read_ref("main", collection)
        return super().read(collection, version=version)

    def read_ref(self, ref: str, collection: str | None = None) -> DataFrame:
        head = self._refs()[ref]["head"]
        if head == 0:
            from server2_vector_search_server_spark.sources.store import (
                CHUNKS_SCHEMA,
            )

            return self.spark.createDataFrame([], CHUNKS_SCHEMA)
        return self.read(collection, version=head)

    def _touched_keys(self, head_v: int, base_v: int) -> set[str]:
        """Doc names whose content digest differs between two versions —
        the both-ways anti-join from the OCC validation rule."""
        def state(v):
            if v == 0:
                from server2_vector_search_server_spark.sources.store import (
                    CHUNKS_SCHEMA,
                )

                empty = self.spark.createDataFrame([], CHUNKS_SCHEMA)
                return empty.select("doc_name",
                                    F.md5("content").alias("h"))
            return (self.read(None, version=v)
                    .select("doc_name", F.md5("content").alias("h")))

        cur, base = state(head_v), state(base_v)
        delta = (cur.join(base, ["doc_name", "h"], "left_anti")
                 .unionByName(base.join(cur, ["doc_name", "h"],
                                        "left_anti")))
        return {r["doc_name"]
                for r in delta.select("doc_name").distinct().collect()}

    def is_empty(self) -> bool:
        return not self._head_files("main")

    def merge(self, branch: str, into: str = "main") -> tuple[str, int]:
        """Returns (outcome, version): outcome in {'fast_forward',
        'merge', 'conflict'}; version is the target head after the call
        (unchanged on conflict).

        On success the BRANCH ref is re-based onto the merge result
        (head = base = the new target head) — without this, a second
        commit-then-merge on the same branch would diff its stale pre-merge
        head against the advanced base and self-conflict on its own
        already-merged docs (ADVICE r6). A branch that added nothing
        (head == base) short-circuits: the target is already a superset,
        so no merge commit is written."""
        refs = self._refs()
        base_v = refs[branch]["base"]
        br_head = refs[branch]["head"]
        tgt_head = refs[into]["head"]

        def _rebase_branch(new_tgt_head: int) -> None:
            refs2 = self._refs()
            refs2[branch] = {"head": new_tgt_head, "base": new_tgt_head}
            self._save_refs(refs2)

        if br_head == base_v:
            # no branch commits — nothing to merge; no-op fast-forward
            _rebase_branch(tgt_head)
            return "fast_forward", tgt_head
        if tgt_head == base_v:
            refs[into]["head"] = br_head
            self._save_refs(refs)
            _rebase_branch(br_head)
            return "fast_forward", br_head
        br_touched = self._touched_keys(br_head, base_v)
        tgt_touched = self._touched_keys(tgt_head, base_v)
        if br_touched & tgt_touched:
            return "conflict", tgt_head
        base_files = ([] if base_v == 0
                      else set(self._manifest(base_v)["files"]))
        added = [f for f in self._manifest(br_head)["files"]
                 if f not in base_files]
        v = self._commit(self._head_files(into) + added,
                         f"merge:{branch}->{into}")
        refs[into]["head"] = v
        self._save_refs(refs)
        _rebase_branch(v)
        return "merge", v

    # -- GC ---------------------------------------------------------------
    def expire(self, keep_last: int = 1) -> int:
        """Ref-aware GC: the base-class expire keeps only the newest
        ``keep_last`` manifests — with branches that would delete a
        manifest some ref's head (or merge base) still points at and
        brick the branch. Pin every version any ref references, then let
        the base implementation reclaim the rest. (Nessie's GC rule:
        unreferenced-by-any-ref is the collectible condition.)"""
        refs = self._refs()
        pinned = {v for r in refs.values() for v in (r["head"], r["base"])
                  if v > 0}
        vs = self.versions()
        keep = set(vs[-keep_last:]) if keep_last > 0 else set()
        keep |= pinned
        # replicate the base expire with the widened keep-set
        live: set[str] = set()
        for v in keep:
            live.update(os.path.normpath(os.path.abspath(f))
                        for f in self._manifest(v)["files"])
        removed = 0
        for commit_dir in list(os.listdir(self.data_dir)):
            full = os.path.join(self.data_dir, commit_dir)
            for name in list(os.listdir(full)):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.normpath(os.path.abspath(
                    os.path.join(full, name)))
                if path not in live:
                    os.remove(path)
                    removed += 1
            if not any(n.endswith(".parquet") for n in os.listdir(full)):
                shutil.rmtree(full, ignore_errors=True)
        pruned_tags = {self._manifest(v)["operation"] for v in vs
                       if v not in keep
                       and self._manifest(v)["operation"]
                       .startswith("stream-append:")}
        self._fold_tags_into_ledger(pruned_tags)
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.manifest_dir, f"v{v}.json"))
        return removed
