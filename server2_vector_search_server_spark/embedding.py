"""Embedding functions (SURVEY.md §2 J1/J2).

The reference embeds chunk text with ``intfloat/multilingual-e5-large-instruct``
(1024-dim float32, L2-normalized — ``config.py:35-43``, ``embedding.py:7-27``),
batched on the best available torch device. Two engine realizations:

1. :func:`hash_embedding_expr` — the canonical deterministic test embedder
   (FIXTURES.md): ``raw[i] = Σ_tokens sin(xxhash64(token) · (i+1))``, then
   L2-normalize. Built entirely from Spark SQL expressions (xxhash64 / sin /
   aggregate), so it evaluates JVM-side with no Python worker and is
   reproducible everywhere. Used by all oracle-adjacent tests because the
   real model is hardware/version-dependent.

   It is emitted as ONE SQL-text string, which ``F.expr`` parses JVM-side in
   a single py4j round trip. Built as Column objects, every PySpark
   higher-order-function lambda costs dozens of round trips at
   DataFrame-build time: a per-dimension Column build of this embedder cost
   ~7k round trips (~1.6 s) per query embed and per upload. The text hashes
   each token once and binds the raw vector and its norm to lambda
   variables, so each is evaluated once per row, with the same
   per-dimension fold order as the spec: the vectors are bitwise identical
   to the per-dimension form (pinned in tests/test_embedding.py).

2. :func:`embed_with_model` — the production path: ``mapInPandas`` with a
   per-worker cached sentence-transformers model, Arrow-batched. The model
   library is not installed in this container, so the loader is gated behind
   an import-try and raises ``NotImplementedError`` with instructions; the
   Spark plumbing (schema, batching, column wiring) is real and tested via a
   deterministic fake encoder.

Scale notes: the hash embedder is a narrow projection (no shuffle). The model
path holds one model per Python worker (not per batch), processes Arrow
batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, and scales
linearly with executors — exactly how a 100 TB embed job should be shaped.
No prefix is added to query vs passage text, replicating the reference's
(model-card-noncompliant) behavior exactly (``embedding.py:11-15``,
SURVEY.md §2.J caveat).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config
from server2_vector_search_server_spark.functions.vector import (
    l2_normalize_sql,
)


def hash_embedding_expr(text_sql: str,
                        dim: int = config.TEST_EMBEDDING_DIM) -> Column:
    """Deterministic pseudo-embedding of the whitespace-tokenized string
    expression ``text_sql`` (SQL text, e.g. a column name); unit-L2-normalized
    like the reference's real vectors.

    ``transform`` hashes each token once; ``aggregate`` then left-folds the
    hashes in token order into a ``dim``-array of running sums from 0.0, so
    dimension ``i`` gets the same ``0.0 + sin(h₁·(i+1)) + sin(h₂·(i+1)) …``
    sum a per-dimension fold would. Null text gives a ``dim``-array of nulls.
    """
    tokens = f"filter(split(trim({text_sql}), '\\\\s+'), t -> t != '')"
    raw = (f"aggregate(transform({tokens}, t -> xxhash64(t)), "
           f"array_repeat(0.0D, {int(dim)}), (acc, h) -> transform(acc, "
           f"(a, i) -> a + sin(h * CAST(i + 1 AS DOUBLE))))")
    return F.expr(f"CASE WHEN ({text_sql}) IS NULL "
                  f"THEN array_repeat(CAST(NULL AS DOUBLE), {int(dim)}) "
                  f"ELSE {l2_normalize_sql(raw)} END")


def embed_hash(df: DataFrame, text_col: str = "content",
               out_col: str = "embedding",
               dim: int = config.TEST_EMBEDDING_DIM) -> DataFrame:
    """Attach the deterministic hash embedding — the test-mode J1."""
    return df.withColumn(out_col, hash_embedding_expr(f"`{text_col}`", dim))


def _load_model(model_name: str):
    try:
        from sentence_transformers import SentenceTransformer  # type: ignore
    except ImportError as exc:   # container has no model libs — stub per brief
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment. "
            "Install it (and torch) to enable real-model embedding; tests use "
            "embedding.embed_hash instead.") from exc
    return SentenceTransformer(model_name)


def embed_with_model(
    df: DataFrame,
    text_col: str = "content",
    out_col: str = "embedding",
    *,
    model_name: str = "intfloat/multilingual-e5-large-instruct",
    dim: int = config.EMBEDDING_DIM,
    encoder_factory: Callable[[], Callable[[list[str]], "object"]] | None = None,
) -> DataFrame:
    """Production J1: Arrow-batched model inference via ``mapInPandas``.

    ``encoder_factory`` (tests) returns a ``texts -> ndarray[n, dim]``
    callable, built once per Python worker; default loads the reference's
    sentence-transformers model (raises NotImplementedError here — see module
    docstring).
    """
    import numpy as np  # noqa: F401 (used by encoders)

    from pyspark.sql import types as T

    out_fields = df.schema.fieldNames() + [out_col]
    # note: StructType.add mutates in place — build a fresh StructType
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.FloatType()))])

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        if encoder_factory is not None:
            encode = encoder_factory()
        else:
            model = _load_model(model_name)
            encode = lambda texts: model.encode(  # noqa: E731
                texts, normalize_embeddings=True)
        for pdf in batches:
            vecs = encode(pdf[text_col].tolist())
            pdf = pdf.copy()
            pdf[out_col] = [list(map(float, v)) for v in vecs]
            yield pdf[out_fields]

    return df.mapInPandas(run, schema=out_schema)
