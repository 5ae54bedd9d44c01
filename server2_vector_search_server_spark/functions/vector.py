"""Vector arithmetic as native Spark column expressions.

The reference scores k-NN hits with squared L2 distance in ChromaDB's ``l2``
space (HNSW collection config in
``vector_db_collections/master/chroma.sqlite3``) and reports
``similarity = 1.0 - d**2`` (``app.py:418``) — NOT cosine, despite the
reference's own comments (``config.py:47-49``). That exact contract is frozen
here.

Design notes (scale):
  * All functions are compositions of ``F.zip_with`` / ``F.aggregate`` /
    ``F.transform`` — evaluated JVM-side per row inside whole-stage codegen.
    No Python boundary, no Arrow transfer, no shuffle.
  * Elements are cast to double BEFORE any arithmetic so results are
    bit-reproducible against the DuckDB oracle (which mirrors the same cast
    order); see ``__spark_entry__.py`` oracle builders.
  * At 100 TB these expressions scan embarrassingly parallel; the only
    distance-related shuffle in any plan is the final top-k merge
    (``TakeOrderedAndProject``), which moves k rows per partition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(c: Column) -> Column:
    return c.cast("double")


def squared_l2(a: Column, b: Column) -> Column:
    """Σ (a_i − b_i)² over two ``array<float|double>`` columns.

    Reference contract: ChromaDB hnsw ``space=l2`` returns squared L2
    (collection ``config_json_str`` in ``chroma.sqlite3``).
    """
    diffs = F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y)))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Σ a_i · b_i."""
    prods = F.zip_with(a, b, lambda x, y: _d(x) * _d(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def squared_l2_sql(a_sql: str, b_sql: str) -> str:
    """SQL-text twin of :func:`squared_l2` for hot plan-build sites (r11).

    Each PySpark higher-order-function lambda costs dozens of py4j round
    trips at DataFrame-BUILD time (the ``_create_lambda`` tax measured in
    OPTIMIZATION_r10.md: ~26 lambdas ≈ 0.6 s per ``pq_knn`` build); one
    ``F.expr`` string is a single round trip parsed JVM-side. The text is
    the same expression tree Catalyst gets from the Column form — same
    ``CAST AS DOUBLE`` on both operands, same ``(x−y)·(x−y)`` element op,
    same left fold from a double-literal 0.0 — so results are bitwise
    identical (asserted in tests/test_knn.py)."""
    return (f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, x) -> acc + x)")


def dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL-text twin of :func:`dot` (same CAST/op/fold order; see
    :func:`squared_l2_sql` for the rationale and the bitwise argument —
    IEEE multiplication is commutative, so operand order is free)."""
    return (f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, x) -> acc + x)")


def squared_l2_py(a, b) -> float:
    """Driver-side constant fold of :func:`squared_l2` for two Python
    vectors (r11). Python floats ARE IEEE-754 doubles and the loop applies
    the identical op order — (a_i − b_i)·(a_i − b_i), left-folded from
    0.0 — so the result is the bitwise-same double the JVM expression
    yields, at zero py4j round trips. Used where BOTH operands are plan
    constants (PQ query→codeword tables)."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


def l2_norm(a: Column) -> Column:
    """‖a‖₂ = sqrt(Σ a_i²)."""
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: _d(x) * _d(x)), F.lit(0.0),
        lambda acc, x: acc + x))


def l2_normalize(a: Column) -> Column:
    """a / ‖a‖₂ (reference ``config.py:43`` normalize_embeddings=True).

    Guards the zero vector (returns it unchanged) — the reference would have
    produced NaNs; we pick the safer semantic and unit-test it.

    ``a`` and its norm are each bound to a lambda variable of a one-element
    ``transform``, so both are evaluated once per row. Referencing ``n``
    inside the per-element lambda directly would re-evaluate the whole norm
    for every element: O(dim²) per row, and the array expression ``a``
    itself once per element on top.
    """
    def by_norm(r: Column) -> Column:
        return F.transform(F.array(l2_norm(r)), lambda n: F.when(
            n == 0.0, F.transform(r, lambda x: _d(x))
        ).otherwise(F.transform(r, lambda x: _d(x) / n)))[0]

    return F.transform(F.array(a), by_norm)[0]


def l2_normalize_sql(a_sql: str) -> str:
    """SQL-text twin of :func:`l2_normalize`: the same norm-once binding,
    cast, fold order and zero-vector guard in one ``F.expr`` string (see
    :func:`squared_l2_sql` for why SQL text; bitwise identity is asserted
    in tests/test_knn.py)."""
    return (f"transform(array({a_sql}), r -> transform(array(sqrt("
            f"aggregate(r, 0.0D, (s, x) -> s + "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), n -> "
            f"CASE WHEN n = 0.0D THEN transform(r, x -> CAST(x AS DOUBLE)) "
            f"ELSE transform(r, x -> CAST(x AS DOUBLE) / n) END)[0])[0]")


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (‖a‖·‖b‖); 0.0 when either norm is 0."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def similarity_score(query_vec: Column, embedding: Column) -> Column:
    """The reference's reported search score: ``1.0 − squared_l2``
    (``app.py:418``). For L2-normalized vectors this equals ``2·cos − 1``
    (range [−3, 1]) — we compute the literal ``1 − d²`` form for parity.
    """
    return F.lit(1.0) - squared_l2(query_vec, embedding)
