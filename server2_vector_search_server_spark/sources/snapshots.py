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
    ``_manifests/v{N}.json`` is written to a temp name and renamed into
    place by a Hadoop rename that does not overwrite (``sources/fs.py``,
    like every file step here, so any URI root works) — the atomic commit
    point, and the compare-and-swap a second writer of that version loses
    (the check Delta/Iceberg catalogs make);
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
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.sources.fs import Tree
from server2_vector_search_server_spark.sources.store import (
    CHUNKS_COLS as _COLS,
    CHUNKS_SCHEMA,
    ChunkStore,
)


def _tail(path: str) -> str:
    """``data/<commit dir>/<part file>`` of a data file path or URI: ASCII
    and unique per file, so it matches a manifest entry to the file's
    ``input_file_name()`` however the root is spelt or percent-encoded."""
    return "/".join(path.rsplit("/", 3)[-3:])


class SnapshotChunkStore:
    """Immutable-file chunk table with atomic manifest commits. Every
    writer commits through :meth:`_write`; subclasses route them by three
    hooks: the head version, a step after each commit, the versions GC
    pins (``_OP_SUFFIX`` tags the operation names)."""

    _OP_SUFFIX = ""
    _LEDGER = "_manifests/stream_ledger.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self._tree = Tree(spark, root)

    # -- hooks ---------------------------------------------------------------
    def _head_version(self) -> int:
        return self.current_version()

    def _after_commit(self, version: int) -> None:
        pass

    def _pinned_versions(self) -> set[int]:
        return set()

    # -- manifest protocol ---------------------------------------------------
    def versions(self) -> list[int]:
        return sorted(int(name[1:-5])
                      for name in self._tree.names("_manifests", "v*.json"))

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int) -> dict:
        return json.loads(self._tree.read_text(f"_manifests/v{version}.json"))

    def _live_files(self, version: int | None = None) -> list[str]:
        v = self._head_version() if version is None else version
        if v == 0:
            return []
        return self._manifest(v)["files"]

    def _commit(self, files: list[str], op: str) -> int:
        """Publish manifest v{N+1}; its no-overwrite rename is the commit."""
        v = self.current_version() + 1
        doc = {"version": v, "operation": op, "files": sorted(files)}
        self._tree.publish(f"_manifests/v{v}.json", json.dumps(doc))
        return v

    def _write(self, op: str, files: list[str]) -> int:
        """Commit ``files`` and run the post-commit hook."""
        v = self._commit(files, op)
        self._after_commit(v)
        return v

    def _write_data(self, df: DataFrame) -> list[str]:
        """Materialize rows as new immutable files; return their paths."""
        rel = f"data/c{self.current_version() + 1}-{uuid.uuid4().hex[:8]}"
        df.select(*_COLS).write.mode("error").parquet(self._tree.uri_of(rel))
        files = []
        for name in self._tree.names(rel, "*.parquet"):
            part = f"{rel}/{name}"
            # parallel writes emit zero-row part files for empty partitions;
            # referencing them bloats manifests and pins commit dirs in GC
            if self._tree.parquet_rows(part) == 0:
                self._tree.delete(part)
            else:
                files.append(self._tree.uri_of(part))
        return files

    # -- reads ---------------------------------------------------------------
    def read(self, collection: str | None = None,
             version: int | None = None) -> DataFrame:
        """Scan a snapshot (default: the head). The file list is resolved
        HERE, once — the returned DataFrame never lists directories, so
        later commits (or expiry of OTHER versions) cannot change or break
        what this scan reads: snapshot isolation."""
        files = self._live_files(version)
        if not files:
            df = self.spark.createDataFrame([], CHUNKS_SCHEMA)
        else:
            df = self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
        if collection and collection != config.MASTER_COLLECTION_NAME:
            df = df.filter(F.col("collection") == collection)
        return df

    def is_empty(self) -> bool:
        """ChunkStore-contract probe: no snapshot, or the head snapshot
        references no files."""
        return not self._live_files()

    document_exists = ChunkStore.document_exists
    list_documents = ChunkStore.list_documents

    def history(self) -> list[dict]:
        docs = {v: self._manifest(v) for v in self.versions()}
        return [{"version": v, "operation": d["operation"],
                 "n_files": len(d["files"])} for v, d in docs.items()]

    # -- writes (each is one atomic commit) ----------------------------------
    def append(self, chunks: DataFrame) -> int:
        new = self._write_data(chunks)
        return self._write(f"append{self._OP_SUFFIX}",
                           self._live_files() + new)

    def upsert(self, chunks: DataFrame) -> int:
        """MERGE-by-doc_id: files containing affected doc_ids are replaced
        by rewritten copies (affected rows dropped); untouched files carry
        over BY REFERENCE. Commit cost ∝ touched files, not table size."""
        incoming = chunks.select(*_COLS).localCheckpoint(eager=True)
        ids = [r["doc_id"] for r in
               incoming.select("doc_id").distinct().collect()]
        files, _ = self._without(ids)
        return self._write(f"upsert{self._OP_SUFFIX}",
                           files + self._write_data(incoming))

    def delete_document(self, doc_id: str) -> bool:
        """True when a file held ``doc_id`` and a version without it was
        committed; False, with nothing committed, when none did."""
        files, found = self._without([doc_id])
        if found:
            self._write(f"delete{self._OP_SUFFIX}", files)
        return found

    def _without(self, doc_ids: list[str]) -> tuple[list[str], bool]:
        """The head's files minus the rows of ``doc_ids``, and whether any
        file held one: untouched files carry over by reference, touched
        ones are rewritten without those rows. One footprint scan finds the
        touched files (parquet min/max stats make it cheap on id-sorted
        files), matched on their :func:`_tail`, never on the root, so a
        root with spaces, '%' or non-ASCII cannot hide one (ADVICE r3)."""
        files = self._live_files()
        if not files:
            return [], False
        table = (self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
                 .withColumn("_file", F.input_file_name()))
        touched = {_tail(r["_file"])
                   for r in table.filter(F.col("doc_id").isin(doc_ids))
                   .select("_file").distinct().collect()}
        if not touched:
            return files, False
        # no checkpoint needed: the lineage reads IMMUTABLE files that stay
        # on disk until expire() — the commit can never invalidate them
        survivors = (self.spark.read.schema(CHUNKS_SCHEMA)
                     .parquet(*[f for f in files if _tail(f) in touched])
                     .filter(~F.col("doc_id").isin(doc_ids)))
        return ([f for f in files if _tail(f) not in touched]
                + self._write_data(survivors), True)

    def append_stream_batch(self, batch: DataFrame, batch_id: int) -> int:
        """``foreachBatch`` sink with EXACTLY-ONCE commits.

        Structured Streaming replays a micro-batch whose foreachBatch ran
        but whose checkpoint offset never committed (crash in between) —
        the classic at-least-once window. The manifest gives idempotence
        for free: the commit is tagged with the batch id, a replay finds
        the tag and returns without writing. Orphan data files from a
        crash BETWEEN ``_write_data`` and ``_commit`` are never referenced
        by any manifest, so ``expire``'s GC reclaims them. A crash between
        the commit and its post-commit hook leaves a tagged version the
        head never adopted; the replay runs the hook instead of appending
        again. This is the same txn-id dance Delta's idempotent writes do
        (``txnAppId``/``txnVersion`` — public API).
        """
        tag = f"stream-append:{batch_id}"
        if tag in self._consumed_stream_tags():
            return self._head_version()
        for v in reversed(self.versions()):
            if self._manifest(v)["operation"] == tag:
                if self._head_version() < v:
                    self._after_commit(v)
                return v
        new = self._write_data(batch)
        return self._write(tag, self._live_files() + new)

    def _consumed_stream_tags(self) -> set[str]:
        """Batch tags whose manifests have been expired. The tag scan over
        live manifests alone has a hole (ADVICE r3): if ``expire`` prunes
        the tagged manifest BEFORE Structured Streaming replays an
        uncommitted batch (crash window), the replay appends twice. The
        ledger is the Delta-txnVersion-style fix — ``expire`` folds the
        tags of every manifest it deletes in here, so a consumed batch id
        is always findable in exactly one of the two places."""
        try:
            return set(json.loads(self._tree.read_text(self._LEDGER))["tags"])
        except (OSError, ValueError, KeyError):
            return set()

    def _fold_tags_into_ledger(self, tags: set[str]) -> None:
        if not tags:
            return
        merged = sorted(self._consumed_stream_tags() | tags)
        self._tree.publish(self._LEDGER, json.dumps({"tags": merged}),
                           replace=True)

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
            return self._head_version()
        table = self.spark.read.schema(CHUNKS_SCHEMA).parquet(*files)
        n_files = max(1, table.count() // rows_per_file)
        new = self._write_data(table.repartition(n_files))
        return self._write(f"compact{self._OP_SUFFIX}", new)

    def expire(self, keep_last: int = 1) -> int:
        """Drop manifests older than the newest ``keep_last`` (and not
        pinned) and delete data files no surviving manifest references.
        Returns files removed. This is the ONLY operation that deletes
        data — commits never do."""
        vs = self.versions()
        keep = set(vs[-keep_last:]) if keep_last > 0 else set()
        keep |= self._pinned_versions()
        live = {_tail(f) for v in keep for f in self._manifest(v)["files"]}
        removed = 0
        for commit_dir in self._tree.names("data"):
            rel = f"data/{commit_dir}"
            kept = 0
            for name in self._tree.names(rel, "*.parquet"):
                if f"{rel}/{name}" in live:
                    kept += 1
                else:
                    self._tree.delete(f"{rel}/{name}")
                    removed += 1
            if not kept:
                self._tree.delete(rel)
        # fold stream-append tags of pruned manifests into the ledger
        # BEFORE deleting them — the exactly-once replay guard must survive
        # manifest expiry (see _consumed_stream_tags)
        pruned = [v for v in vs if v not in keep]
        ops = {self._manifest(v)["operation"] for v in pruned}
        self._fold_tags_into_ledger(
            {op for op in ops if op.startswith("stream-append:")})
        for v in pruned:
            self._tree.delete(f"_manifests/v{v}.json")
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

    _OP_SUFFIX = "@main"

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        if not self._tree.exists("_refs.json"):
            self._save_refs({"main": {"head": 0, "base": 0}})

    # -- ref bookkeeping ------------------------------------------------
    def _refs(self) -> dict:
        return json.loads(self._tree.read_text("_refs.json"))

    def _save_refs(self, refs: dict) -> None:
        self._tree.publish("_refs.json", json.dumps(refs), replace=True)

    # -- hooks: the inherited writers and default reads use 'main' -------
    # On the newest GLOBAL manifest, maybe a branch head, they would fold
    # branch files into an orphan commit (ADVICE r6). GC keeps every
    # version a ref points at (Nessie's rule); ``read(version=)`` still
    # time-travels the raw log.
    def _head_version(self) -> int:
        return self._refs()["main"]["head"]

    def _after_commit(self, version: int) -> None:
        self._move_ref("main", version)

    def _pinned_versions(self) -> set[int]:
        return {v for r in self._refs().values()
                for v in (r["head"], r["base"]) if v > 0}

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
        v = self._commit(self._live_files(self._refs()[ref]["head"]) + new,
                         f"append@{ref}")
        self._move_ref(ref, v)
        return v

    def read_ref(self, ref: str, collection: str | None = None) -> DataFrame:
        return self.read(collection, version=self._refs()[ref]["head"])

    def _touched_keys(self, head_v: int, base_v: int) -> set[str]:
        """Doc names whose content digest differs between two versions —
        the both-ways anti-join from the OCC validation rule."""
        def state(v):
            return (self.read(None, version=v)
                    .select("doc_name", F.md5("content").alias("h")))

        cur, base = state(head_v), state(base_v)
        delta = (cur.join(base, ["doc_name", "h"], "left_anti")
                 .unionByName(base.join(cur, ["doc_name", "h"],
                                        "left_anti")))
        return {r["doc_name"]
                for r in delta.select("doc_name").distinct().collect()}

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
        base_v, br_head = refs[branch]["base"], refs[branch]["head"]
        tgt_head = refs[into]["head"]
        if br_head == base_v:     # no branch commits: a no-op fast-forward
            outcome, head = "fast_forward", tgt_head
        elif tgt_head == base_v:
            outcome, head = "fast_forward", br_head
        elif (self._touched_keys(br_head, base_v)
              & self._touched_keys(tgt_head, base_v)):
            return "conflict", tgt_head
        else:
            base_files = set(self._live_files(base_v))
            added = [f for f in self._live_files(br_head)
                     if f not in base_files]
            outcome, head = "merge", self._commit(
                self._live_files(tgt_head) + added, f"merge:{branch}->{into}")
        refs[into]["head"] = head
        refs[branch] = {"head": head, "base": head}
        self._save_refs(refs)
        return outcome, head
