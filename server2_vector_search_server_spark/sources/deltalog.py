"""Minimal Delta-Lake-protocol table: JSON action log + parquet parts.

The open Delta protocol (delta.io PROTOCOL.md) is just parquet data files
plus an append-only ``_delta_log/`` of numbered JSON commits whose lines
are actions (``add`` / ``remove`` / ``metaData`` / ``protocol``).  A
reader needs NO library: list commits ≤ the wanted version, fold the
add/remove actions into the live file set, read those parquet files.
This module implements exactly that fold so the engine can time-travel a
Delta-shaped table in any container (delta-spark is not installed here),
mirroring the role of ``sources/snapshots.py``'s own manifest format but
speaking the interchange protocol other engines write.

Every file step goes through Hadoop (``sources/fs.py``), as the protocol
addresses its files through a filesystem, so the root may be any URI
Spark writes to.

Scale notes: the log fold is manifest-sized driver work (Delta readers
checkpoint it for long histories — same idea as snapshots.py's manifest);
the data read is an ordinary pushdown-capable parquet scan of the live
files, so Catalyst treats a Delta snapshot exactly like any other
parquet table.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from server2_vector_search_server_spark.sources.fs import Tree, active_session

_LOG_DIR = "_delta_log"


def _tree(root: "str | Tree", spark: SparkSession | None = None) -> Tree:
    """The table root as a :class:`Tree`; the functions below take either,
    so one call resolves the root's handle once."""
    if isinstance(root, Tree):
        return root
    return Tree(spark or active_session(), root)


def write_commit(root: str, version: int, actions: "list[dict]") -> None:
    """One numbered commit, one JSON action per line (the protocol's
    framing), published atomically; an existing commit of that version is
    never overwritten (the protocol's mutual exclusion). Caller supplies
    protocol/metaData on version 0."""
    _tree(root).publish(f"{_LOG_DIR}/{version:020d}.json", "".join(
        json.dumps(a, separators=(",", ":")) + "\n" for a in actions))


def add_action(path: str, size: int) -> dict:
    return {"add": {"path": path, "partitionValues": {}, "size": size,
                    "modificationTime": 0, "dataChange": True}}


def remove_action(path: str) -> dict:
    return {"remove": {"path": path, "deletionTimestamp": 0,
                       "dataChange": True}}


def _actions(tree: Tree, version: int) -> "list[dict]":
    return [json.loads(line) for line in
            tree.read_text(f"{_LOG_DIR}/{version:020d}.json").splitlines()]


def versions(root: "str | Tree") -> "list[int]":
    return sorted(int(name.split(".")[0])
                  for name in _tree(root).names(_LOG_DIR, "*.json"))


def live_files(root: "str | Tree",
               version: int | None = None) -> "list[str]":
    """Fold add/remove actions of commits ≤ version into the live set.
    Later actions win (the protocol's reconciliation rule)."""
    tree = _tree(root)
    avail = versions(tree)
    if not avail:
        return []
    v = avail[-1] if version is None else version
    if v not in avail:
        raise ValueError(f"version {v} not in log (have {avail})")
    live: "dict[str, bool]" = {}
    for cv in avail:
        if cv > v:
            break
        for a in _actions(tree, cv):
            if "add" in a:
                live[a["add"]["path"]] = True
            elif "remove" in a:
                live[a["remove"]["path"]] = False
    return sorted(p for p, alive in live.items() if alive)


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """The snapshot's rows. Each ``add.path`` resolves by Hadoop's
    ``Path(parent, child)`` rule: a relative path lands under the root, an
    absolute one (as :func:`convert_versioned_files` writes) stands."""
    tree = _tree(root, spark)
    files = [tree.locate(p) for p in live_files(tree, version)]
    if not files:
        raise ValueError("empty snapshot")
    return spark.read.parquet(*files)


def write_data_file(df: DataFrame, root: str, name: str) -> dict:
    """Materialize df as ONE parquet file ``<root>/<name>`` and return its
    add action. Spark writes directories; the protocol addresses files —
    relocate the single part file (driver-side rename, no data copy)."""
    tree = _tree(root, df.sparkSession)
    tmp = f"deltapart_{uuid.uuid4().hex[:8]}"
    df.coalesce(1).write.mode("overwrite").parquet(tree.uri_of(tmp))
    part = tree.names(tmp, "part-*.parquet")[0]
    tree.rename(f"{tmp}/{part}", name)
    tree.delete(tmp)
    return add_action(name, tree.size(name))


def vacuum(root: str, *, keep_from_version: int) -> "list[str]":
    """Delete data files referenced ONLY by versions older than
    ``keep_from_version`` — VACUUM with a version-based retention cutoff
    (the protocol's time-based retention maps to versions here; commits
    themselves are never deleted, so the log stays auditable while
    time travel below the cutoff loses its data files).

    Deliberate public API: the table-maintenance half of the "Zero-copy
    table migration" row of SURVEY.md, next to
    :func:`convert_versioned_files`.

    A file survives iff it is LIVE in at least one retained version
    (≥ cutoff).  Returns the deleted names.  Deletion is idempotent —
    missing files are skipped, so concurrent vacuums race safely."""
    tree = _tree(root)
    avail = versions(tree)
    if not avail:
        return []
    if keep_from_version not in avail:
        raise ValueError(
            f"cutoff {keep_from_version} not a version (have {avail})")
    keep: "set[str]" = set()
    for v in avail:
        if v >= keep_from_version:
            keep.update(live_files(tree, v))
    referenced = {a["add"]["path"] for v in avail for a in _actions(tree, v)
                  if "add" in a}
    return [p for p in sorted(referenced - keep)
            if _tree(tree.locate(p), tree.spark).delete("")]


def convert_versioned_files(versioned_files: "list[list[str]]",
                            root: str) -> int:
    """CONVERT-TO-DELTA, metadata-only: given the live ABSOLUTE file set
    of each source-table version (oldest first), emit one delta commit
    per version whose add/remove actions are the set difference against
    the previous version.  No data file is read or copied — the commits
    reference the source files in place (the protocol allows absolute
    paths in ``add.path``, and :func:`read_snapshot` resolves them as they
    stand).  This is the Delta/Iceberg table-migration move: history
    preserved, bytes untouched.  Returns the number of commits."""
    prev: "set[str]" = set()
    for i, files in enumerate(versioned_files):
        cur = set(files)
        actions: "list[dict]" = []
        if i == 0:
            actions.append({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}})
            actions.append({"metaData": {"id": "converted-table",
                                         "format": {"provider": "parquet"}}})
        for p in sorted(cur - prev):
            actions.append(add_action(p, _tree(p).size()))
        for p in sorted(prev - cur):
            actions.append(remove_action(p))
        write_commit(root, i, actions)
        prev = cur
    return len(versioned_files)
