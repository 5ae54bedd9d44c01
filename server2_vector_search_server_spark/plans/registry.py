"""Query registry — the engine's public query surface + DuckDB oracle twins.

Every operator from SURVEY.md §2 that the engine claims is registered here as
a named query: a callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent DuckDB SQL string. The driver's correctness
gate runs both at sf=0.01 and compares row-count + schema + order-insensitive
value hash; ``tests/test_oracle_parity.py`` runs the same comparison locally
at sf0.001 so regressions surface before a round ends, and
``scripts/full_sweep.py`` runs it at sf0.01 (or any corpus). Both compare
through :func:`oracle_mismatch` against the views of
:func:`oracle_connection`, defined once below.

Parity rules (FIXTURES.md §Determinism):
  * floats: cast to DOUBLE before arithmetic on BOTH sides, identical op
    order, ROUND to a fixed number of decimals on BOTH sides.
  * sums of doubles: per-row round → scaled BIGINT → exact integer SUM so
    Spark's shuffle order cannot perturb the result (addition over int is
    associative; over float it is not).
  * every computed column aliased identically on both sides; ties broken
    deterministically; no UUIDs / nondeterministic ids in checked outputs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from server2_vector_search_server_spark.session import read_table


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # DuckDB SQL, None => rows-only check
    survey_ref: str             # SURVEY.md §2 operator ids this query covers


REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, *, oracle: str | None, survey: str):
    """Register a query under ``name`` with its DuckDB oracle twin.

    Duplicate names raise: the registry is a dict, so a second
    registration would SILENTLY shadow the first and the driver would
    never run it again (caught live in round 6 — a new branch-based WAP
    query replaced the staging-root one for two sweeps). Re-registering
    the IDENTICAL function object (module reloaded by tooling) is
    allowed."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        prev = REGISTRY.get(name)
        if prev is not None and (prev.fn.__module__ != fn.__module__
                                 or prev.fn.__qualname__ != fn.__qualname__):
            raise ValueError(
                f"query name {name!r} already registered by "
                f"{prev.fn.__module__}.{prev.fn.__qualname__}; pick a "
                "distinct name — dict registration silently shadows")
        REGISTRY[name] = RegisteredQuery(name, fn, oracle, survey)
        return fn

    return deco


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# --- the parity comparison --------------------------------------------------

# The driver-generated tables every oracle may read.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_connection(sf_dir: str, tables=TABLES):
    """A DuckDB connection with one view per table of ``sf_dir``.

    A table is ``{name}.parquet``: one bare file (the driver's testdata
    layout) or a directory of Spark part files (any table Spark wrote,
    e.g. an amplified corpus); a directory is read through its
    ``*.parquet`` parts."""
    import os

    import duckdb

    con = duckdb.connect()
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _normalize(df):
    """Column-name order, list cells as tuples, rows sorted. Never compare
    str()-canonicalized rows: a numpy array cell prints as ``[1 2]`` and a
    list as ``[1, 2]``."""
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v)
                if isinstance(v, (list, tuple, np.ndarray)) else v)
    return df.sort_values(list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    """Cell equality as the driver's value hash sees it: exact, NaN equals
    NaN, tuples element-wise, and dtype-sensitive: int64 on one engine
    and float64 on the other hash differently even when numerically equal
    (DuckDB HUGEINT -> float via pandas vs Spark BIGINT)."""
    import math

    import numpy as np

    a_float = isinstance(a, (float, np.floating))
    b_float = isinstance(b, (float, np.floating))
    a_int = isinstance(a, (int, np.integer)) and not isinstance(a, bool)
    b_int = isinstance(b, (int, np.integer)) and not isinstance(b, bool)
    if (a_float and b_int) or (a_int and b_float):
        return False
    if a_float and b_float:
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y)
                                        for x, y in zip(a, b))
    return a == b


def oracle_mismatch(got, want, *, empty_ok: bool = True) -> str | None:
    """The first difference between a query's Spark result and its DuckDB
    oracle (two pandas frames), or None when they match: the column set,
    the row count, then every cell of the column-name-sorted rows.

    ``empty_ok=False`` also rejects two empty results: a 0-row match is
    vacuous and usually means the query's fixture constants miss the
    data."""
    if sorted(got.columns) != sorted(want.columns):
        return (f"column mismatch {sorted(got.columns)} vs "
                f"{sorted(want.columns)}")
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    if not empty_ok and len(got) == 0:
        return "both sides empty — vacuous pass"
    g, w = _normalize(got), _normalize(want)
    for i in range(len(g)):
        for c in g.columns:
            a, b = g[c].iloc[i], w[c].iloc[i]
            if not _values_equal(a, b):
                return f"row {i} col {c}: spark={a!r} duckdb={b!r}"
    return None


def spread(df: DataFrame) -> DataFrame:
    """Round-robin a BOUNDED row set across the session parallelism before
    heavy interpreted per-row compute (higher-order-function projections,
    shingling, regex families).

    Why: a small parquet table arrives as ONE scan partition (single file,
    single row group — the local testdata layout), so everything narrow
    downstream of it runs on one core; the guide's input-skew rule
    ("one huge unsplittable file … repartition immediately after the
    read", optimization guide §2.5) applied to the opposite extreme. The
    repartition is conditional on the SCAN's actual width, so on a real
    cluster where the same table is thousands of splits wide it is a
    no-op — never a constant tuned for local mode.

    Only apply to row sets that are BOUNDED by the query itself (a
    doc_id-sliced panel, a per-key grouped table) or cheap relative to the
    per-row compute, and whose downstream aggregation is order-free
    (exact-int sums, count, min/max, sort_array'd collects) — round-robin
    changes row order per partition.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A temp directory under ONE process-scoped scratch root that is
    removed at interpreter exit (ADVICE r4: the per-query ``mkdtemp``
    calls accumulated parquet copies across repeated correctness sweeps).
    Same lifetime semantics as the old per-site mkdtemp — directories
    stay alive for the whole process (streaming queries and ``_memo``-ed
    indexes rely on that) — but everything is swept together at exit."""
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


# Session-level memo for deterministic build artifacts (materialized index
# directories, trained PQ codebooks, shared edge tables, staged streaming
# sources — see :func:`staged_source`). Such an artifact
# is a LAYOUT of immutable input — identical bytes on every rebuild — so
# repeated calls in one process (the bench's median-of-3, a long-lived
# engine session) pay the build once and measure the SERVE path. Keyed by
# (artifact, sf_dir); a fresh process (the driver's correctness run)
# always rebuilds.
_BUILD_MEMO: dict = {}


def _input_fingerprint(paths: list[str]) -> str:
    """Deterministic fingerprint of input data files: (relative name, size,
    mtime_ns) per file, hashed.  A driver-side testdata regeneration bumps
    mtimes, so a stale silver artifact can never be served against new
    input bytes."""
    import hashlib
    import os as _os

    parts: list[str] = []
    for p in sorted(_os.path.realpath(x) for x in paths):
        if _os.path.isdir(p):
            for root, _dirs, files in sorted(_os.walk(p)):
                for f in sorted(files):
                    st = _os.stat(_os.path.join(root, f))
                    parts.append(f"{_os.path.relpath(_os.path.join(root, f), p)}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = _os.stat(p)
            parts.append(f"{_os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha1("|".join(parts).encode()).hexdigest()[:16]


def silver_store(name: str, inputs: list[str], build) -> str:
    """Cross-PROCESS persistent build artifact (VERDICT r8 next-#3: the
    shared silver tables should survive a fresh driver process, not just a
    session memo).

    Lives under ``<repo>/.silver/<name>-<scope>-<fingerprint>/`` where
    ``scope`` identifies the input PATH SET (so the same logical artifact
    built against different corpora — sf0.001 tests, sf0.1 bench, a /tmp
    scale decade — never collide) and ``fingerprint`` the input bytes
    (size+mtime — regenerated testdata invalidates automatically).
    ``build`` receives a staging directory to populate, atomically renamed
    into place, so concurrent builders race safely — the loser's rename
    fails and it serves the winner's bytes.

    Pruning deletes ONLY same-(name, scope) entries with an older
    fingerprint — the one case that is provably garbage.  It must never
    touch other scopes (they serve live corpora) nor ANY ``.staging.``
    directory (another process may be mid-build: round 9 hit exactly this
    — a concurrent test run's prune deleted a 100×-corpus build between
    its write and read, failing the job with FILE_NOT_EXIST).

    On a real cluster this is a silver table in object storage maintained
    by the ingest pipeline (see streaming_edge_table_upkeep for the
    incremental form)."""
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    root = _os.environ.get("SPARK_GRAFT_SILVER_ROOT")
    if not root:
        repo = _os.path.dirname(_os.path.dirname(_os.path.dirname(
            _os.path.abspath(__file__))))
        root = _os.path.join(repo, ".silver")
    scope = _hashlib.sha1("|".join(
        sorted(_os.path.realpath(p) for p in inputs)).encode()) \
        .hexdigest()[:8]
    fp = _input_fingerprint(inputs)
    stem = f"{name}-{scope}"
    final = _os.path.join(root, f"{stem}-{fp}")
    if _os.path.exists(_os.path.join(final, "_SILVER_OK")):
        return final
    _os.makedirs(root, exist_ok=True)
    staging = f"{final}.staging.{_os.getpid()}"
    _shutil.rmtree(staging, ignore_errors=True)
    _os.makedirs(staging)
    try:
        build(staging)
        with open(_os.path.join(staging, "_SILVER_OK"), "w") as fh:
            fh.write(fp)
        try:
            _os.rename(staging, final)
        except OSError:  # concurrent winner already renamed — use theirs
            pass
    finally:
        _shutil.rmtree(staging, ignore_errors=True)
    # prune: same name+scope, older fingerprint, never a staging dir
    for entry in _os.listdir(root):
        if (entry.startswith(f"{stem}-") and entry != f"{stem}-{fp}"
                and ".staging." not in entry):
            _shutil.rmtree(_os.path.join(root, entry), ignore_errors=True)
    return final


def build_memo(key, build):
    import os as _os

    out = _BUILD_MEMO.get(key)
    # a memoized PATH can be reaped out from under a long-lived session
    # (/tmp cleaners); rebuild rather than scan a vanished directory.
    # Inputs under sf_dir are assumed immutable within a process — the
    # driver regenerates testdata only across process boundaries.
    if isinstance(out, str) and not _os.path.exists(out):
        out = None
    if out is None:
        out = build()
        _BUILD_MEMO[key] = out
    return out


def link_table_files(sf_dir: str, name: str, dest_dir: str) -> None:
    """Symlink a table's parquet bytes into ``dest_dir`` (a streaming
    source dir), zero-copy.

    The driver fixture ships each table as one BARE ``{name}.parquet``
    file, but every real Spark/Hive table is a DIRECTORY of part files —
    and Spark's file-stream source does not descend into subdirectories,
    so symlinking a directory under the source path makes a stream read
    ZERO rows silently (caught live by the SCALE §53 10× corpus: the
    stream-stream join pillar 'completed' in 1.5 s against an empty
    stream). Handle both layouts: a file links as itself; a directory
    links each ``*.parquet`` part flat into the source dir."""
    import os

    src = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(src):
        parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {src}")
        for f in parts:
            os.symlink(os.path.join(src, f), os.path.join(dest_dir, f))
    else:
        os.symlink(src, os.path.join(dest_dir, f"{name}.parquet"))


def staged_source(spark: SparkSession, sf_dir: str, recipe: str,
                  files: int, frame: Callable[[], DataFrame] | None = None
                  ) -> str:
    """A ``files``-file parquet copy of an input, staged once per
    (recipe, file count, ``sf_dir``) in a process through
    :func:`build_memo`, as a streaming pillar's file source: several files
    make several micro-batches under ``maxFilesPerTrigger``.

    ``frame()`` builds the rows; by default the whole table named
    ``recipe``, so pillars that stream the same table the same way share
    one directory. A recipe name must identify its rows: two pillars that
    pass the same name get the same files. Only a source that the pillar
    reads is staged this way, never one it appends to."""
    def build() -> str:
        src = scratch_dir(f"staged_{recipe}_")
        rows = frame() if frame is not None else tbl(spark, sf_dir, recipe)
        rows.repartition(files).write.mode("overwrite").parquet(src)
        return src

    return build_memo(("staged_source", recipe, files, sf_dir), build)


from contextlib import contextmanager


@contextmanager
def state_partitions(spark, n: int = 8):
    """Context manager pinning ``spark.sql.shuffle.partitions`` while a
    STATEFUL streaming query starts (restored on exit). It is for
    stateful streams only: a stateless stream (a ``foreachBatch`` rollup,
    a stream-static join) keeps no state store, so there the pin only
    widens each batch's shuffle.

    Why: every micro-batch of a stateful streaming operator commits one
    state-store delta file PER SHUFFLE PARTITION per operator — so the
    per-batch wall floor is ``partitions × (snapshot load + commit)``
    regardless of data volume. At bench scale that floor dominates:
    the stream-stream join pillar at sf0.1 runs 6.0 s with the session's
    32 batch-shuffle partitions and 2.9 s with 8, byte-identical results
    (the state fits in any partitioning; only the commit fan-out changes).

    Scale note (100 TB): state partitions ARE the stateful parallelism
    and are frozen into the checkpoint at first start — size them to
    stream volume (keys × state row size / executor memory), not to the
    session's batch-shuffle default. This helper makes that choice
    explicit per stream instead of inheriting whatever the session last
    set. Batch work planned AFTER the stream drains (the post-sink
    rollups) executes outside the ``with`` block at the session default,
    so only the micro-batch machinery is affected."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# --- shared oracle SQL fragments -------------------------------------------

def sql_sq_l2(a: str, b: str) -> str:
    """DuckDB squared-L2 mirroring functions/vector.squared_l2_sql's op
    order: cast each element to DOUBLE, subtract, square via
    multiplication, sum."""
    d = f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> {d} * {d}))"


def sql_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")


def sql_l2_norm(a: str) -> str:
    return (f"sqrt(list_sum(list_transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def sql_score(a: str, b: str, decimals: int = 6) -> str:
    """The reference score contract 1 - d^2 (app.py:418), rounded."""
    return f"ROUND(1.0 - {sql_sq_l2(a, b)}, {decimals})"


# --- exact (shuffle-order-independent) float aggregation --------------------
#
# SUM over doubles is order-dependent; Spark's shuffle order is not
# deterministic, so a raw double sum can hash-differently from DuckDB.
# Fix: round each ROW's value to `scale` decimals (deterministic — a single
# double expression), convert to scaled BIGINT, SUM exactly over integers
# (associative), divide back at the end. Bit-identical on both engines at
# any parallelism — this is also the right pattern on a 1000-executor
# cluster whenever a money-style total must be reproducible.

def exact_sum(col, scale: int = 4):
    """Spark side: deterministic double sum via scaled-integer accumulation."""
    from pyspark.sql import functions as F

    factor = 10 ** scale
    return (F.sum(F.round(col * factor).cast("long")) / float(factor))


def sql_exact_sum(expr: str, scale: int = 4) -> str:
    """DuckDB twin of :func:`exact_sum`."""
    factor = 10 ** scale
    return (f"(SUM(CAST(ROUND(({expr}) * {factor}) AS BIGINT)) / {factor}.0)")
