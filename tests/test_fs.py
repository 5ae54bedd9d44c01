"""The Hadoop filesystem seam (``sources/fs.py``): every table and log on a
URI root, the directory swap's crash safety, and an AST pin that keeps
local-path file steps out of the stores and logs."""

from __future__ import annotations

import ast
import pathlib
from datetime import datetime
from unittest import mock

import pytest

from server2_vector_search_server_spark.sources import deltalog as dl
from server2_vector_search_server_spark.sources.fs import Tree
from server2_vector_search_server_spark.streaming.ivm import HourlyRollupView
from server2_vector_search_server_spark.streaming.wal import (
    OP_DELETE,
    OP_UPSERT,
    WAL_SCHEMA,
    WalLog,
)

_EVENTS = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")


def _wal_batch(spark, ops):
    return spark.createDataFrame(
        [(seq, op, cid, None, None, None, None, content, None)
         for seq, op, cid, content in ops], WAL_SCHEMA)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, 1, hour, 5), 1, kind, value, "{}")
         for i, (hour, kind, value) in enumerate(rows)], _EVENTS)


def _rollup(view):
    return sorted((str(r["window_start"]), r["event_type"], r["n_events"],
                   r["total_value"]) for r in view.current().collect())


def _state(log):
    return sorted((r["chunk_id"], r["content"])
                  for r in log.current_state().collect())


def test_logs_answer_on_a_viewfs_root(spark, tmp_path, viewfs_root):
    """A Delta-protocol table, the WAL and the rollup view run on a
    ``viewfs://`` mount: deltalog write, read and vacuum; WAL apply,
    compact and read; rollup compact and read. Commit files carry no
    ``.crc`` sidecar."""
    root = f"{viewfs_root}/delta"
    a0 = dl.write_data_file(spark.range(5), root, "f0.parquet")
    a1 = dl.write_data_file(spark.range(5, 9), root, "f1.parquet")
    assert a0["add"]["size"] == \
        (tmp_path / "delta" / "f0.parquet").stat().st_size
    dl.write_commit(root, 0, [a0])
    dl.write_commit(root, 1, [dl.remove_action("f0.parquet"), a1])
    with pytest.raises(FileExistsError):
        dl.write_commit(root, 1, [a0])
    assert sorted(p.name for p in (tmp_path / "delta" / "_delta_log")
                  .iterdir()) == [f"{v:020d}.json" for v in (0, 1)]
    assert dl.read_snapshot(spark, root, 0).count() == 5
    assert dl.read_snapshot(spark, root).count() == 4
    assert dl.vacuum(root, keep_from_version=1) == ["f0.parquet"]
    assert not (tmp_path / "delta" / "f0.parquet").exists()
    assert dl.versions(root) == [0, 1]

    log = WalLog(spark, f"{viewfs_root}/wal")
    log.apply_batch(_wal_batch(spark, [(1, OP_UPSERT, "a", "a1"),
                                       (2, OP_UPSERT, "b", "b1")]), 0)
    log.compact()
    log.apply_batch(_wal_batch(spark, [(3, OP_DELETE, "a", None),
                                       (4, OP_UPSERT, "c", "c1")]), 1)
    log.compact()
    assert _state(log) == [("b", "b1"), ("c", "c1")]
    assert sorted(p.name for p in (tmp_path / "wal").iterdir()) == ["base"]

    view = HourlyRollupView(spark, f"{viewfs_root}/view")
    view.apply_batch(_events(spark, [(9, "view", 1.5), (9, "view", 2.0)]), 0)
    view.apply_batch(_events(spark, [(10, "click", 4.0)]), 1)
    want = [("2024-01-01 09:00:00", "view", 2, 3.5),
            ("2024-01-01 10:00:00", "click", 1, 4.0)]
    assert _rollup(view) == want
    view.compact()
    assert _rollup(view) == want
    assert sorted(p.name for p in (tmp_path / "view" / "log").iterdir()
                  if not p.name.startswith((".", "_"))) == [
        "ingest_batch=-1"]


def test_swap_cut_between_renames_loses_no_row(spark, tmp_path):
    """A swap that fails after renaming the live directory aside and
    before renaming the new one in leaves every row readable, and the
    next compact finishes cleanly: for the WAL's base and the rollup's
    log alike."""
    rename = Tree.rename

    def cut(self, src, dst):
        if src.endswith(".tmp"):
            raise OSError("cut before the rename-in")
        rename(self, src, dst)

    log = WalLog(spark, str(tmp_path / "wal"))
    log.apply_batch(_wal_batch(spark, [(1, OP_UPSERT, "a", "a1"),
                                       (2, OP_UPSERT, "b", "b1")]), 0)
    log.compact()                      # rows now live only in the base
    log.apply_batch(_wal_batch(spark, [(3, OP_UPSERT, "c", "c1")]), 1)
    want = [("a", "a1"), ("b", "b1"), ("c", "c1")]
    with mock.patch.object(Tree, "rename", cut), \
            pytest.raises(OSError, match="rename-in"):
        log.compact()
    assert (tmp_path / "wal" / "base.old").is_dir()
    assert not (tmp_path / "wal" / "base").exists()
    assert _state(log) == want
    log.compact()
    assert sorted(p.name for p in (tmp_path / "wal").iterdir()) == ["base"]
    assert _state(log) == want

    view = HourlyRollupView(spark, str(tmp_path / "view"))
    view.apply_batch(_events(spark, [(9, "view", 5.0)]), 0)
    view.compact()
    view.apply_batch(_events(spark, [(9, "view", 1.0)]), 1)
    want = [("2024-01-01 09:00:00", "view", 2, 6.0)]
    with mock.patch.object(Tree, "rename", cut), \
            pytest.raises(OSError, match="rename-in"):
        view.compact()
    assert not (tmp_path / "view" / "log").exists()
    assert _rollup(view) == want
    view.compact()
    assert sorted(p.name for p in (tmp_path / "view").iterdir()) == ["log"]
    assert _rollup(view) == want


# local-path file steps that bypass the seam
_BANNED_CALLS = {
    "os.path.exists", "os.path.isdir", "os.path.isfile", "os.path.getsize",
    "os.listdir", "os.makedirs", "os.remove", "os.replace", "os.rename",
    "open",
}
_BANNED_MODULES = ("shutil", "tempfile", "pyarrow.parquet")


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _seam_modules() -> list[pathlib.Path]:
    pkg = pathlib.Path(__file__).resolve().parents[1] / \
        "server2_vector_search_server_spark"
    return [pkg / "sources" / f"{name}.py"
            for name in ("store", "snapshots", "deltalog")] + sorted(
        (pkg / "streaming").glob("*.py"))


def _violations(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call) and _dotted(node.func) in _BANNED_CALLS:
            found.append(f"{path.name}:{node.lineno} {_dotted(node.func)}")
        elif isinstance(node, ast.Call) and _dotted(node.func).startswith(
                tuple(f"{m}." for m in _BANNED_MODULES)):
            found.append(f"{path.name}:{node.lineno} {_dotted(node.func)}")
        elif isinstance(node, ast.Import):
            found += [f"{path.name}:{node.lineno} import {a.name}"
                      for a in node.names
                      if a.name.startswith(_BANNED_MODULES)]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = {f"{node.module}.{a.name}" for a in node.names}
            if node.module.startswith(_BANNED_MODULES) or (
                    names & (_BANNED_CALLS | set(_BANNED_MODULES))):
                found.append(f"{path.name}:{node.lineno} from {node.module}")
    return found


def test_stores_and_logs_take_no_local_path_steps():
    """The chunk stores, the Delta log and every streaming module reach
    their files only through ``sources/fs.py``: no ``os.path``
    existence/size probe, no ``os`` listing, creation, removal or rename,
    no ``shutil``, ``tempfile``, builtin ``open`` or ``pyarrow.parquet``.
    ``os.path.join`` stays allowed."""
    modules = _seam_modules()
    assert len(modules) >= 9
    found = [v for path in modules for v in _violations(path)]
    assert not found, found


def test_ast_pin_catches_each_banned_step(tmp_path):
    """The pin itself fires on each form it bans and passes
    ``os.path.join``."""
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import os, shutil\nimport pyarrow.parquet as pq\n"
        "from tempfile import mkdtemp\n"
        "os.path.exists('x'); os.listdir('x'); os.rename('a', 'b')\n"
        "open('x'); shutil.rmtree('x'); os.path.join('a', 'b')\n")
    found = _violations(bad)
    assert len(found) == 8, found
    assert not any("join" in v for v in found)
