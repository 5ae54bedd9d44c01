"""Script health: every ``scripts/*.py`` compiles, every package name it
imports (function-local imports included) resolves, the generic tools
import without side effects, ``bench_xl`` reuses ``bench.py``'s loop and
``full_sweep`` the test gate's comparator instead of keeping a copy. Only
the view set-up test starts a Spark session."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import py_compile
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")
PACKAGE = "server2_vector_search_server_spark"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        f"scripts_{name}", os.path.join(SCRIPTS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))),
    ids=os.path.basename)
def test_script_byte_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def _package_imports(path: str):
    """``(module, name)`` for every import of the package anywhere in the
    script's AST (``name`` is None for a plain ``import module``)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module.split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield alias.name, None


def test_script_package_imports_resolve():
    """Byte-compiling does not check a function-local ``from package.mod
    import name``; import each module and look each name up, so a script
    calling a deleted helper fails here instead of at its next run."""
    resolved, missing = 0, []
    for path in sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))):
        for module, name in _package_imports(path):
            where = f"{os.path.basename(path)}: {module} {name}"
            try:
                mod = importlib.import_module(module)
                if name is not None and not hasattr(mod, name):
                    importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(where)
                continue
            resolved += 1
    assert resolved > 0 and not missing, missing


@pytest.mark.parametrize("name", ["explain", "dump_rows", "pillar_layers",
                                  "bench_xl", "full_sweep"])
def test_generic_tool_imports_without_side_effects(name, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.syspath_prepend(ROOT)          # the tools import bench.py
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    context = SparkContext._active_spark_context
    before = set(os.listdir(ROOT))
    mod = _load(name)
    assert callable(mod.main)
    assert SparkContext._active_spark_context is context
    assert set(os.listdir(ROOT)) == before


def test_bench_xl_reuses_bench_loop_and_cpu_reference(monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    import bench

    xl = _load("bench_xl")
    assert xl._cpu_reference_sec is bench._cpu_reference_sec
    assert xl.time_pillars is bench.time_pillars
    assert xl.SF_DIR == bench.SF_DIR


def test_full_sweep_reuses_test_gate_comparator_and_views():
    import tests.conftest
    import tests.test_oracle_parity

    sweep = _load("full_sweep")
    assert sweep.oracle_mismatch is tests.test_oracle_parity.oracle_mismatch
    assert sweep.oracle_connection is tests.conftest.oracle_connection
    assert sweep.get_spark is tests.conftest.get_spark


def test_oracle_views_read_single_file_and_spark_directory(spark, tmp_path):
    """A table is read the same whether it is one bare ``.parquet`` file or
    a directory of Spark part files."""
    from server2_vector_search_server_spark.plans.registry import (
        oracle_connection)

    df = spark.range(10).selectExpr("id", "id * 2 AS twice")
    df.repartition(3).write.parquet(str(tmp_path / "parts" / "t.parquet"))
    df.coalesce(1).write.parquet(str(tmp_path / "staging"))
    (part,) = (tmp_path / "staging").glob("part-*.parquet")
    (tmp_path / "single").mkdir()
    part.rename(tmp_path / "single" / "t.parquet")

    want = [(i, 2 * i) for i in range(10)]
    for layout in ("parts", "single"):
        con = oracle_connection(str(tmp_path / layout), ["t"])
        assert con.execute("SELECT * FROM t ORDER BY id").fetchall() == want
