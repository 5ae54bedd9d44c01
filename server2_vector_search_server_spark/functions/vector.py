"""Vector arithmetic as Spark SQL text, one form per kernel.

The reference scores k-NN hits with squared L2 distance in ChromaDB's ``l2``
space (HNSW collection config in
``vector_db_collections/master/chroma.sqlite3``) and reports
``similarity = 1.0 - d**2`` (``app.py:418``) — NOT cosine, despite the
reference's own comments (``config.py:47-49``). That exact contract is frozen
here; the score itself is spelled once, in ``operators/knn.py``
(``score_sql`` / ``exact_score``).

Why SQL text and not Column builders:
  * Each PySpark higher-order-function lambda costs dozens of py4j round
    trips at DataFrame-BUILD time (the ``_create_lambda`` tax measured in
    OPTIMIZATION_r10.md: ~26 lambdas ≈ 0.6 s per ``pq_knn`` build); one
    ``F.expr`` string is a single round trip parsed JVM-side. Callers wrap
    a kernel in ``F.expr(...)`` or embed it in a larger one-string
    expression, so a kernel nested inside another lambda costs nothing
    extra.
  * The text is the expression tree the old Column builders produced —
    same ``CAST AS DOUBLE`` on every operand, same element op, same left
    fold from a double-literal 0.0 — so results are bitwise identical.
    tests/test_knn.py keeps those builders as frozen specs and pins every
    kernel here to them on tricky values.

Design notes (scale):
  * Every kernel is ``zip_with`` / ``aggregate`` / ``transform``, evaluated
    JVM-side per row inside whole-stage codegen. No Python boundary, no
    Arrow transfer, no shuffle.
  * Elements are cast to double BEFORE any arithmetic so results are
    bit-reproducible against the DuckDB oracle (which mirrors the same cast
    order; see ``plans/registry.sql_sq_l2`` and friends).
  * At 100 TB these expressions scan embarrassingly parallel; the only
    distance-related shuffle in any plan is the final top-k merge
    (``TakeOrderedAndProject``), which moves k rows per partition.
"""

from __future__ import annotations


def squared_l2_sql(a_sql: str, b_sql: str) -> str:
    """Σ (a_i − b_i)² over two ``array<float|double>`` SQL expressions.

    Reference contract: ChromaDB hnsw ``space=l2`` returns squared L2
    (collection ``config_json_str`` in ``chroma.sqlite3``). ``a − b`` and
    ``b − a`` are exact IEEE negations, so operand order does not change
    a bit of the result."""
    return (f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, x) -> acc + x)")


def dot_sql(a_sql: str, b_sql: str) -> str:
    """Σ a_i · b_i (IEEE multiplication is commutative, so operand order is
    free)."""
    return (f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, x) -> acc + x)")


def squared_l2_py(a, b) -> float:
    """Driver-side constant fold of :func:`squared_l2_sql` for two Python
    vectors. Python floats ARE IEEE-754 doubles and the loop applies the
    identical op order — (a_i − b_i)·(a_i − b_i), left-folded from 0.0 —
    so the result is the bitwise-same double the JVM expression yields, at
    zero py4j round trips. Used where BOTH operands are plan constants (PQ
    query→codeword tables)."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


def l2_normalize_sql(a_sql: str) -> str:
    """a / ‖a‖₂ (reference ``config.py:43`` normalize_embeddings=True).

    Guards the zero vector (returns it unchanged, cast to double) — the
    reference would have produced NaNs; we pick the safer semantic and
    unit-test it.

    ``a`` and its norm are each bound to a lambda variable of a
    one-element ``transform``, so both are evaluated once per row.
    Referencing the norm inside the per-element lambda directly would
    re-evaluate it for every element: O(dim²) per row, and the array
    expression ``a`` itself once per element on top."""
    return (f"transform(array({a_sql}), r -> transform(array(sqrt("
            f"aggregate(r, 0.0D, (s, x) -> s + "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), n -> "
            f"CASE WHEN n = 0.0D THEN transform(r, x -> CAST(x AS DOUBLE)) "
            f"ELSE transform(r, x -> CAST(x AS DOUBLE) / n) END)[0])[0]")


def cosine_sql(a_sql: str, b_sql: str) -> str:
    """dot(a, b) / (‖a‖·‖b‖); 0.0 when either norm is 0."""
    def norm(v: str) -> str:
        return (f"sqrt(aggregate(transform({v}, x -> "
                f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                f"0.0D, (acc, x) -> acc + x))")

    denom = f"({norm(a_sql)} * {norm(b_sql)})"
    return (f"CASE WHEN {denom} = 0.0D THEN 0.0D "
            f"ELSE {dot_sql(a_sql, b_sql)} / {denom} END")
