"""Approximate nearest-neighbor search at scale (SURVEY.md §4 ANN row;
BASELINE.json north star "MLlib ANN for batch indexing").

Three tiers, all DataFrame-in/DataFrame-out:

1. **Exact brute force** — ``operators/knn.py``. Embarrassingly parallel
   scored scan + partial top-k; recall 1.0. The right default until the
   corpus × query volume makes rescanning uneconomical.

2. **Deterministic bucketed ANN** (this module) — corpus-side partitioning by
   a locality hash, query-side probe of a few buckets:
     * ``hyperplane`` (sign-LSH): bucket = sign bits of dot(v, hᵢ) against
       fixed hyperplanes; cosine-locality. Multi-probe = flip low-confidence
       bits.
     * ``ivf`` (coarse quantization): bucket = argmin-distance centroid;
       probe the nprobe nearest centroids (classic IVF-Flat, cf. Faiss —
       public algorithm).
   Both use *data-derived, deterministic* anchors (sampled corpus vectors) so
   results are reproducible and DuckDB-oracle-checkable. At 100 TB the bucket
   id becomes the table's partition/bucketing key: a query touches nprobe
   partitions instead of the full corpus — scan cost drops by
   n_buckets/nprobe with recall controlled by nprobe.

3. **MLlib BucketedRandomProjectionLSH** — Spark's built-in ANN for
   approxNearestNeighbors / approxSimilarityJoin, seeded for determinism
   (rows-only checks: its hash family isn't reproducible in DuckDB).

Ranking contract: every tier here scores and ranks through
``operators/knn.py`` — its exact score (``exact_score``/``score_sql``,
also over the PQ lookup distances), its ``(score DESC, id ASC) LIMIT k``
tail (``top_k``, also for the candidate stages' approximate scores) and
its per-query window (``top_k_per_query``). The exact stages are
``knn_topk`` over the pruned rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from server2_vector_search_server_spark.functions.vector import (
    cosine_sql, dot_sql, squared_l2_py, squared_l2_sql,
)
from server2_vector_search_server_spark.operators.knn import (
    exact_score, knn_topk, score_sql, top_k, top_k_per_query,
    vector_literal_sql, vectors_literal_sql,
)


# --- tier 2a: sign-LSH (hyperplane) ----------------------------------------

def hyperplane_bucket(vec_col: str,
                      hyperplanes: Sequence[Sequence[float]]) -> Column:
    """Bucket id = Σ (dot(vec, hᵢ) > 0) << i over fixed hyperplanes.

    r11: ONE ``F.expr`` — the per-plane Column loop paid ~40 py4j round
    trips per hyperplane at plan-build time (dot's two HOF lambdas plus
    the literal array). Same arithmetic: IEEE multiply commutes, the
    integer bit-weight sum folds in the same plane order, and the
    codegen'd per-row work is identical.
    """
    planes_sql = vectors_literal_sql(hyperplanes)
    weights = ",".join(f"{1 << i}L" for i in range(len(hyperplanes)))
    return F.expr(
        f"aggregate(zip_with({planes_sql}, array({weights}), "
        f"(h, w) -> if({dot_sql('h', f'`{vec_col}`')} > 0, w, "
        f"CAST(0 AS BIGINT))), "
        f"CAST(0 AS BIGINT), (bacc, bx) -> bacc + bx)")


def hyperplane_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    hyperplanes: Sequence[Sequence[float]],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
    n_probe_flips: int = 0,
) -> DataFrame:
    """ANN top-k restricted to the query's hyperplane bucket(s), exact
    scoring within. Deterministic; recall < 1 by design (bucket pruning).

    ``n_probe_flips`` enables multi-probe: also search the buckets reached by
    flipping the ``n`` hyperplane bits where the query's margin |dot(q, hᵢ)|
    is smallest — the planes the query sits closest to, i.e. where its true
    neighbors most likely landed on the other side. Probing 1+n buckets
    multiplies scanned rows by ~(1+n) for a recall gain that depends on the
    data's locality structure — see SCALE.md §1a for the measured regimes
    (near-duplicate clusters: recall 1.0 even single-probe; uniform-random
    synthetic vectors: LSH is structurally blind and exact search is the
    right tool)."""
    margins = []
    qbits = 0
    for i, h in enumerate(hyperplanes):
        d = sum(float(a) * float(b) for a, b in zip(query_vec, h))
        if d > 0:
            qbits |= 1 << i
        margins.append((abs(d), i))
    probes = [qbits]
    for _, i in sorted(margins)[:n_probe_flips]:
        probes.append(qbits ^ (1 << i))
    bucketed = corpus.withColumn(
        "bucket", hyperplane_bucket(vec_col, hyperplanes))
    return knn_topk(bucketed.filter(F.col("bucket").isin(probes)), query_vec,
                    k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals)


# --- tier 2b: IVF coarse quantization --------------------------------------

CODEBOOK_LIT_MAX_ELEMENTS = 1024


def _nearest_cells(cent_rows, vec, n, centroid_id_col, centroid_vec_col):
    """The ``n`` centroid rows nearest ``vec``, lowest id on equal
    distance: the driver-side twin of :func:`ivf_assign`'s argmin, on the
    same left-folded doubles (``squared_l2_py``)."""
    return sorted(cent_rows, key=lambda r: (
        squared_l2_py(vec, r[centroid_vec_col]), r[centroid_id_col]))[:n]


def codebook_transport_sql(vectors: DataFrame, cent_rows, *,
                           centroid_id_col: str = "centroid_id",
                           centroid_vec_col: str = "centroid"):
    """Attach a driver-small codebook to ``vectors``, picking the cheaper
    transport by size (measured in SCALE.md §32):

      * ≤ ``CODEBOOK_LIT_MAX_ELEMENTS`` total floats: expression LITERALS —
        zero extra jobs, and Catalyst constant-folds them;
      * above: ONE broadcast row — building n_cent×dim nested ``F.lit``
        trees costs seconds of driver-side Py4J round-trips PER QUERY
        (2.9 s at 64×64; ~20 s at 512×64) and bloats every plan, while the
        broadcast row is serialized data with a constant-size plan, at the
        price of one broadcast exchange (~0.3 s locally).

    Arithmetic downstream is bit-identical either way (same doubles, same
    op order). ``cent_rows`` must be sorted by centroid id. Returns
    ``(paired_df, vecs_sql, ids_sql)``, SQL TEXT for the two codebook
    arrays: callers build their whole distance/ranking expression as ONE
    ``F.expr`` parse (r11: the Column form paid 2-3 HOF lambdas, ~40 py4j
    round trips each, per call site) and, if ``paired_df`` is not
    ``vectors``, drop ``_cb_ids``/``_cb_vecs`` when done.
    """
    cent_ids = [r[centroid_id_col] for r in cent_rows]
    dim = len(cent_rows[0][centroid_vec_col]) if cent_rows else 0
    if len(cent_rows) * dim <= CODEBOOK_LIT_MAX_ELEMENTS:
        vecs_sql = vectors_literal_sql(
            [r[centroid_vec_col] for r in cent_rows])
        ids_sql = "array(" + ",".join(f"{int(c)}L" for c in cent_ids) + ")"
        return vectors, vecs_sql, ids_sql
    if not all(isinstance(c, int) for c in cent_ids):
        raise ValueError("codebook_transport_sql expects integer centroid "
                         f"ids (got {type(cent_ids[0]).__name__})")
    cb = vectors.sparkSession.createDataFrame(
        [(list(map(int, cent_ids)),
          [[float(x) for x in r[centroid_vec_col]] for r in cent_rows])],
        "_cb_ids array<bigint>, _cb_vecs array<array<double>>")
    paired = vectors.crossJoin(F.broadcast(cb))
    return paired, "_cb_vecs", "_cb_ids"


def ivf_assign(vectors: DataFrame, centroids: DataFrame, *,
               vec_col: str = "embedding", id_col: str = "vec_id",
               centroid_id_col: str = "centroid_id",
               centroid_vec_col: str = "centroid") -> DataFrame:
    """Assign each vector to its nearest centroid. This is the index-build
    step: at scale, write the corpus partitioned/bucketed by ``centroid_id``.

    Centroids are collected (they must be driver-small — this IS the coarse
    quantizer) and attached via :func:`codebook_transport_sql`, so
    assignment is a narrow argmin projection: zero shuffles, zero row
    blow-up (the big-codebook transport adds one single-row broadcast).
    The old crossJoin(broadcast of the centroid TABLE) + row_number window
    multiplied the corpus by n_centroids and shuffled it back down —
    measured 27.5 s vs 8.5 s for 200k×64 against 64 centroids (SCALE.md).
    Tie-break matches the window form: lowest centroid id among equal
    distances (array_min over (d, cid) structs, rows sorted by id)."""
    cent_rows = sorted(centroids.collect(),
                       key=lambda r: r[centroid_id_col])
    paired, vecs_sql, ids_sql = codebook_transport_sql(
        vectors, cent_rows, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col)
    # r11: the whole argmin projection is ONE expr parse (same tree the
    # Column form built: transform -> squared_l2 -> zip_with named
    # struct -> array_min -> field access; ~120 py4j round trips saved
    # per call, and kmeans_lloyd calls this every iteration)
    best = F.expr(
        f"array_min(zip_with(transform({vecs_sql}, "
        f"c -> {squared_l2_sql('c', f'`{vec_col}`')}), {ids_sql}, "
        f"(d, i) -> named_struct('d', d, 'cid', i))).cid")
    out = paired.withColumn(centroid_id_col, best)
    return out.drop("_cb_ids", "_cb_vecs") if paired is not vectors else out


def ivf_knn(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """IVF-Flat search: probe the nprobe nearest centroids' cells, exact
    top-k within. ``centroids`` must be small (broadcast)."""
    probe_ids = [r[centroid_id_col] for r in _nearest_cells(
        centroids.collect(), query_vec, nprobe, centroid_id_col,
        centroid_vec_col)]
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col, id_col=id_col,
                          centroid_id_col=centroid_id_col,
                          centroid_vec_col=centroid_vec_col)
    return knn_topk(assigned.filter(F.col(centroid_id_col).isin(probe_ids)),
                    query_vec, k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals)


def ivf_train_kmeans(corpus: DataFrame, n_centroids: int = 16, *,
                     vec_col: str = "embedding", seed: int = 42,
                     max_iter: int = 10) -> DataFrame:
    """Train IVF centroids with MLlib KMeans (the north star's "MLlib ANN
    for batch indexing"): a fitted coarse quantizer instead of sampled corpus
    vectors — tighter cells, better recall per probe. Seeded and
    deterministic per Spark version (k-means|| init), but not
    SQL-reproducible, so queries built on it register rows-only.

    Returns (centroid_id, centroid) shaped for :func:`ivf_assign` /
    :func:`ivf_knn`. At 100 TB: KMeans fits on a sample (`corpus.sample`),
    assignment (the linear pass) runs on everything.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    ml_df = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter,
                featuresCol="features")
    model = km.fit(ml_df)
    spark = corpus.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in
            enumerate(model.clusterCenters())]
    return spark.createDataFrame(
        rows, "centroid_id int, centroid array<double>"
    ).withColumn("centroid", F.col("centroid").cast("array<float>"))


def write_ivf_index(vectors: DataFrame, centroids: DataFrame, path: str, *,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Materialize the IVF index: the corpus written PARTITIONED BY its
    centroid cell. This is the piece that turns "probe nprobe cells" from a
    post-scan filter into FILE PRUNING — a query lists and reads only the
    probed cells' files, which is how the 100 TB story actually cashes out
    (verified in tests: the probe scan's plan shows PartitionFilters and
    touches nprobe directories)."""
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col, id_col=id_col)
    (assigned.write.mode("overwrite")
     .partitionBy("centroid_id").parquet(path))


def ivf_knn_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """Search a materialized IVF index: rank centroids driver-side, filter
    the partitioned table on the probe cells (partition pruning — no data
    files outside the probed cells are opened), exact-rescore within."""
    probe_ids = [r[centroid_id_col] for r in _nearest_cells(
        centroids.collect(), query_vec, nprobe, centroid_id_col,
        centroid_vec_col)]
    cells = (spark.read.parquet(index_path)
             .filter(F.col(centroid_id_col).isin(probe_ids)))
    return knn_topk(cells, query_vec, k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals)


# --- tier 2c: int8 scalar quantization (SQ8) --------------------------------

def sq8_quantize(vectors: DataFrame, *, vec_col: str = "embedding",
                 qvec_col: str = "qvec",
                 scale_col: str = "sq8_scale") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale = 127/max|x|``,
    ``q_i = round(x_i * scale)`` ∈ [-127, 127] stored as ``array<tinyint>``.

    This is the storage/compute compression tier (classic SQ8, cf. Faiss
    ``ScalarQuantizer`` — public algorithm): a 1024-dim float32 embedding
    (4 KiB) becomes 1 KiB + one float — 4× less to scan, shuffle, and cache.
    At 100 TB of raw vectors that is the difference between a 25 TB and a
    100 TB working set for every ANN probe. Quantization error per element is
    bounded by ``0.5/scale = max|x|/254``, so ranking quality degrades only
    marginally (rescore the short list exactly when it matters).

    Everything is deterministic double arithmetic (round-half-away, the JVM
    and DuckDB contract — never Python ``round``), so quantized scores are
    DuckDB-oracle-checkable bit-for-bit.
    """
    absmax = f"array_max(transform(`{vec_col}`, x -> abs(CAST(x AS DOUBLE))))"
    scale = F.expr(f"127.0D / greatest({absmax}, 1e-30D)")
    qvec = F.expr(f"transform(`{vec_col}`, x -> CAST(round("
                  f"CAST(x AS DOUBLE) * `{scale_col}`) AS TINYINT))")
    return (vectors.withColumn(scale_col, scale)
            .withColumn(qvec_col, qvec))


def sq8_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k ranked on the SQ8-compressed representation, then exact-rescored.
    The ranking scan scores the dequantized vector (``q_i/scale``) inside
    whole-stage codegen; the exact ``score`` is computed only for the k rows
    that survive the quantized top-k (they ride through
    TakeOrderedAndProject). Here quantization happens on the fly so the
    query is self-contained and oracle-checkable; at scale you materialize
    ``sq8_quantize`` output once (as ``write_ivf_index`` does for cells) and
    the ranking scan reads ONLY the 4×-smaller ``(qvec, scale)`` columns.
    Output: ``score_sq8`` (quantized 1 − d² ranking score) and ``score``
    (exact), both rounded; rank order is (score_sq8 DESC, id ASC)."""
    q = vector_literal_sql(query_vec)
    dequant = "transform(qvec, x -> CAST(x AS DOUBLE) / sq8_scale)"
    quant = sq8_quantize(corpus, vec_col=vec_col).withColumn(
        "score_sq8", exact_score(q, dequant, score_decimals))
    cand = top_k(quant, k, id_col=id_col, score_col="score_sq8")
    return (cand.withColumn("score", exact_score(q, f"`{vec_col}`",
                                                 score_decimals))
            .drop(vec_col, "qvec", "sq8_scale"))


def matryoshka_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    prefix_dim: int = 16,
    candidates: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Matryoshka (truncated-prefix) two-stage retrieval: rank the whole
    corpus on squared-L2 over only the FIRST ``prefix_dim`` components, keep
    the ``candidates`` best, exact-rescore those on the full vector, return
    top-k.

    This is the MRL serving pattern (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022 — public): nested-prefix
    embeddings let the cheap pass read ``prefix_dim/dim`` of the vector
    bytes. Here the prefix is an ``F.slice`` inside whole-stage codegen so
    the query stays self-contained and oracle-checkable; at 100 TB you
    materialize the prefix as its own column (or its own file via
    ``write_ivf_index``-style layout) and the ranking scan's I/O drops by
    dim/prefix_dim — with 1024-dim float32 vectors and a 64-dim prefix
    that is 16x less scanned, shuffled, and cached per probe, and unlike
    SQ8/PQ the rescore needs no codebook state. Funnel shape mirrors the
    reference's over-fetch contract (``vector_store.py:141`` fetches k then
    rescores client-side).

    Output: ``score_prefix`` (truncated 1 - d^2 ranking score) and
    ``score`` (exact, full-dim), both rounded; final order is
    (score DESC, id ASC).
    """
    prefix = exact_score(vector_literal_sql(list(query_vec)[:prefix_dim]),
                         f"slice(`{vec_col}`, 1, {prefix_dim})",
                         score_decimals)
    cand = top_k(corpus.withColumn("score_prefix", prefix), candidates,
                 id_col=id_col, score_col="score_prefix")
    return knn_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals)


BQ_WORD_BITS = 32   # 32 bits per BIGINT word: bit 63 would overflow
                    # DuckDB's checked signed shift, so both engines pack
                    # half-words — identical values, zero portability risk


def sign_pack_words(vec_col: str, dim: int) -> list[Column]:
    """Pack sign bits (``x > 0``) into ``ceil(dim/32)`` BIGINT words —
    1-bit binary quantization (Charikar sign-hash storage form; 32× less
    than float32 even at half-word packing once stored as INT). Bits are
    summed, not OR'd: each bit value occurs once, so ``+`` == ``|`` and
    the SAME fold works verbatim in DuckDB."""
    words = []
    B = BQ_WORD_BITS
    for w in range((dim + B - 1) // B):
        lo, n = w * B, min(B, dim - w * B)
        words.append(F.expr(
            f"aggregate(sequence(0, {n - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + if(CAST(element_at({vec_col}, i + {lo + 1}) "
            f"AS DOUBLE) > CAST(0.0 AS DOUBLE), "
            f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
        ).alias(f"bq_word_{w}"))
    return words


def binary_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    candidates: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """1-bit binary-quantized retrieval: rank the corpus by HAMMING
    distance between sign-bit packs (``bit_count(xor)`` per 64-bit word —
    pure integer ops inside whole-stage codegen), keep the ``candidates``
    best, exact-rescore on the full vector.

    The aggressive end of the compression ladder (SQ8 4× → PQ ~16× →
    binary 32×): at 100 TB the packed corpus is ~3 TB, the ranking scan is
    XOR+popcount over longs (SIMD-friendly, no float math), and the funnel
    restores accuracy exactly like the Matryoshka/SQ8 tiers. The sign-hash
    locality argument is Charikar's (SimHash, STOC'02 — public); the
    query-side pack is computed driver-side from the literal.

    Output: ``hamming`` (INT, ranking key ASC) + exact ``score``; final
    order (score DESC, id ASC).
    """
    dim = len(list(query_vec))
    B = BQ_WORD_BITS
    q_words = []
    for w in range((dim + B - 1) // B):
        word = 0
        for i, x in enumerate(list(query_vec)[w * B:(w + 1) * B]):
            if float(x) > 0.0:
                word += 1 << i
        q_words.append(word)
    # carry non-vector columns through (ADVICE r3: a hardcoded 'label'
    # projection threw on any corpus without that fixture column — the
    # other tier operators only require id/vec). Names this operator
    # GENERATES are reserved: a corpus column called 'hamming'/'score'
    # would be silently clobbered and a 'bq_word_N' would break the packed
    # projection's analysis — refuse loudly instead (code-review r4).
    reserved = {"hamming", "score"} | {
        f"bq_word_{w}" for w in range((dim + B - 1) // B)}
    clash = [c for c in corpus.columns
             if c not in (id_col, vec_col) and c in reserved]
    if clash:
        raise ValueError(
            f"binary_knn output names collide with corpus columns {clash}; "
            f"rename them before calling (reserved: hamming, score, "
            f"bq_word_*)")
    extra_cols = [c for c in corpus.columns if c not in (id_col, vec_col)]
    packed = corpus.select(id_col, *extra_cols, vec_col,
                           *sign_pack_words(vec_col, dim))
    ham = None
    for w, qw in enumerate(q_words):
        term = F.bit_count(
            F.col(f"bq_word_{w}").bitwiseXOR(F.lit(qw).cast("long")))
        ham = term if ham is None else ham + term
    cand = (packed.withColumn("hamming", ham.cast("int"))
            .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
            .limit(candidates))
    return (knn_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col,
                     score_decimals=score_decimals)
            .select(id_col, *extra_cols, "hamming", "score"))


# --- tier 2d: product quantization (PQ) -------------------------------------

def pq_codebooks(corpus: DataFrame, n_subspaces: int, n_codewords: int, *,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace m's codewords are the first
    ``n_codewords`` corpus vectors' m-th slices (same data-derived-anchor
    policy as the IVF/hyperplane tiers, so encodings are reproducible and
    oracle-checkable). Returns ``codebooks[m][j] = j-th codeword of
    subspace m``. Real deployments k-means each subspace (cf. Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    public); swap the anchor source without touching encode/search."""
    rows = (corpus.filter(F.col(id_col) < n_codewords)
            .orderBy(id_col).select(vec_col).collect())
    dim = len(rows[0][0])
    sub = dim // n_subspaces
    return [[[float(x) for x in r[0][m * sub:(m + 1) * sub]] for r in rows]
            for m in range(n_subspaces)]


def pq_codebooks_kmeans(corpus: DataFrame, n_subspaces: int,
                        n_codewords: int, *, vec_col: str = "embedding",
                        seed: int = 42,
                        max_iter: int = 10) -> list[list[list[float]]]:
    """FITTED PQ codebooks: MLlib KMeans per subspace (the construction the
    PQ paper actually prescribes — codewords minimize in-subspace
    quantization error instead of being arbitrary corpus slices). Seeded
    and deterministic per Spark version, but k-means|| is not
    SQL-reproducible, so queries built on these register rows-only — the
    encode/search machinery on top is the same code the oracle-checked
    corpus-slice variant certifies. At 100 TB: fit each subspace's KMeans
    on a sample; encoding (the linear pass) runs on everything."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(vec_col).first()[0])
    sub = dim // n_subspaces
    books = []
    for m in range(n_subspaces):
        ml_df = corpus.select(
            array_to_vector(
                F.slice(F.col(vec_col), m * sub + 1, sub)
                .cast("array<double>")).alias("features"))
        km = KMeans(k=n_codewords, seed=seed + m, maxIter=max_iter,
                    featuresCol="features")
        model = km.fit(ml_df)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def pq_encode(vectors: DataFrame,
              codebooks: list[list[list[float]]], *,
              vec_col: str = "embedding") -> DataFrame:
    """Encode each vector as ``n_subspaces`` small codes: per subspace, the
    index (1-based) of the nearest codeword — the argmin-projection pattern
    of ivf_assign applied per slice. M codes × ceil(log2 K) bits replace the
    full vector for candidate ranking: 64-dim float32 (256 B) → 4 codes
    (4 B) at M=4, K≤256 — a 64× candidate-scan compression. Adds columns
    ``pq_code_1..pq_code_M``; no shuffle, no Python."""
    out = vectors
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    for m, cbook in enumerate(codebooks):
        # r11: the whole per-subspace distance table is ONE F.expr parse —
        # the Column form paid K vector_literal round trips plus 3 HOF
        # lambdas (~dozens of py4j calls) per subspace at plan-build time.
        # Identical expression tree: same slice bounds, same squared_l2
        # cast/op/fold order (functions.vector.squared_l2_sql).
        slice_sql = f"slice(`{vec_col}`, {m * sub + 1}, {sub})"
        dists = F.expr(
            f"transform({vectors_literal_sql(cbook)}, "
            f"c -> {squared_l2_sql('c', slice_sql)})")
        out = out.withColumn(
            f"pq_code_{m + 1}",
            F.array_position(dists, F.array_min(dists)).cast("int"))
    return out


def _pq_score(query_vec: Sequence[float],
              codebooks: list[list[list[float]]],
              score_decimals: int) -> Column:
    """``score_pq``: the reference score over the asymmetric distance
    ``Σ_m table_m[pq_code_m]``, as one SQL string. Each query→codeword
    table is a PLAN CONSTANT (both operands are driver-side values),
    folded in Python by ``squared_l2_py`` in the JVM's IEEE op order, so
    the literal doubles are bitwise what the JVM expression would
    compute."""
    sub = len(codebooks[0][0])
    q = list(query_vec)
    d2 = "0.0D"
    for m, cbook in enumerate(codebooks):
        table = [squared_l2_py(c, q[m * sub:(m + 1) * sub]) for c in cbook]
        d2 += f" + element_at({vector_literal_sql(table)}, pq_code_{m + 1})"
    return F.expr(score_sql(d2, score_decimals))


def pq_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Asymmetric-distance PQ search: rank candidates by
    ``Σ_m d²(q_sub_m, codeword(code_m))`` — the query compared to each
    row's RECONSTRUCTION, which costs M table lookups per row instead of a
    full-dimension distance — then exact-rescore the k survivors. The
    per-subspace query→codeword distance table is a literal array expression
    (JVM-evaluated, constant-folded by codegen), so the whole ranking scan
    is lookups + adds over the M byte-sized code columns."""
    encoded = pq_encode(corpus, codebooks, vec_col=vec_col).withColumn(
        "score_pq", _pq_score(query_vec, codebooks, score_decimals))
    cand = top_k(encoded, k, id_col=id_col, score_col="score_pq")
    return (cand.withColumn("score", exact_score(
                vector_literal_sql(query_vec), f"`{vec_col}`",
                score_decimals))
            .drop(vec_col, *[f"pq_code_{m + 1}"
                             for m in range(len(codebooks))]))


def ivf_pq_knn(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """The composed IVF-PQ pipeline (Jégou et al. 2011, the Faiss
    ``IVFxxx,PQyy`` architecture — public): IVF pruning picks WHICH rows to
    look at (nprobe cells of the corpus), PQ decides HOW CHEAPLY to rank
    them (M code lookups instead of a full-dimension distance), and the k
    survivors get the exact rescore. At 100 TB both savings multiply: the
    probe reads nprobe/n_cells of the files (partition pruning when the
    index is materialized, cf. write_ivf_index) and the ranking scan inside
    touches M bytes per row instead of 4·dim. Candidate ranking uses
    ``score_pq`` (rounded) with id tie-break; output carries both
    ``score_pq`` and the exact ``score``: :func:`pq_knn` over the probed
    cells."""
    probe_ids = [r[centroid_id_col] for r in _nearest_cells(
        centroids.collect(), query_vec, nprobe, centroid_id_col,
        centroid_vec_col)]
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col, id_col=id_col,
                          centroid_id_col=centroid_id_col,
                          centroid_vec_col=centroid_vec_col)
    return pq_knn(assigned.filter(F.col(centroid_id_col).isin(probe_ids)),
                  query_vec, codebooks, k, vec_col=vec_col, id_col=id_col,
                  score_decimals=score_decimals)


def write_ivf_pq_index(vectors: DataFrame, centroids: DataFrame,
                       codebooks: list[list[list[float]]], path: str, *,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> None:
    """Materialize the full IVF-PQ index: rows partitioned by their IVF
    cell, PQ codes precomputed as columns. A probe then (a) prunes to
    nprobe partition DIRECTORIES and (b) column-prunes its ranking scan to
    ``(id, pq_code_*)`` — a few bytes per row — never touching the
    full-precision vectors until the k-row rescore. This is the 100 TB ANN
    story in its final physical form; both prunings are asserted on the
    executed plan in tests."""
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col, id_col=id_col)
    encoded = pq_encode(assigned, codebooks, vec_col=vec_col)
    # ingest_batch = -1 marks the base build; streaming refreshes stamp their
    # micro-batch id so a replayed batch can overwrite exactly its own leaf
    # partitions (streaming/ann_index.py). Searches prune on centroid_id at
    # the TOP directory level either way and never read this column.
    (encoded.withColumn("ingest_batch", F.lit(-1).cast("long"))
     .write.mode("overwrite")
     .partitionBy("centroid_id", "ingest_batch").parquet(path))


def ivf_pq_knn_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """Search the materialized IVF-PQ index: rank candidates reading ONLY
    the stored code columns of the probed partitions, then rescore the k
    survivors from the full vectors (same table, k-row semi-join — at
    1000-executor scale a broadcast of k ids). Same output contract and
    oracle as :func:`ivf_pq_knn` — the index is a layout change, not a
    semantic one."""
    probe_ids = [r[centroid_id_col] for r in _nearest_cells(
        centroids.collect(), query_vec, nprobe, centroid_id_col,
        centroid_vec_col)]
    stored = spark.read.parquet(index_path)
    cell = stored.filter(F.col(centroid_id_col).isin(probe_ids))
    code_cols = [f"pq_code_{m + 1}" for m in range(len(codebooks))]
    # Schema-generic candidate projection: carry every stored payload column
    # (whatever the indexed corpus has) except the full-precision vector and
    # index-internal columns — naming a specific payload column here would
    # break any corpus without it.
    payload_cols = [c for c in stored.columns
                    if c not in (vec_col, "ingest_batch", *code_cols)]
    ranked = cell.select(*payload_cols, *code_cols).withColumn(
        "score_pq", _pq_score(query_vec, codebooks, score_decimals))
    cand = top_k(ranked, k, id_col=id_col, score_col="score_pq")
    rescore_src = cell.select(id_col, vec_col)
    return (cand.drop(*code_cols).join(rescore_src, id_col)
            .withColumn("score", exact_score(
                vector_literal_sql(query_vec), f"`{vec_col}`",
                score_decimals))
            .drop(vec_col))


# --- tier 3: MLlib BucketedRandomProjectionLSH ------------------------------

def mllib_brp_ann(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    vec_col: str = "embedding",
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Spark MLlib ANN: BucketedRandomProjectionLSH.approxNearestNeighbors.
    Seeded → deterministic per Spark version; not oracle-reproducible."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    ml_df = corpus.withColumn(
        "features", array_to_vector(F.col(vec_col).cast("array<double>")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(ml_df)
    key = Vectors.dense([float(x) for x in query_vec])
    return (model.approxNearestNeighbors(ml_df, key, k)
            .drop("features", "hashes"))


def mllib_similarity_join(
    a: DataFrame,
    b: DataFrame,
    threshold_l2: float,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """All-pairs similarity join under an L2 distance threshold via MLlib
    approxSimilarityJoin — the C4 all-pairs near-dup operator at scale."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    prep = lambda df: df.withColumn(  # noqa: E731
        "features", array_to_vector(F.col(vec_col).cast("array<double>")))
    da, db = prep(a), prep(b)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(da)
    joined = model.approxSimilarityJoin(da, db, threshold_l2,
                                        distCol="l2_dist")
    return joined.select(
        F.col(f"datasetA.{id_col}").alias("id_a"),
        F.col(f"datasetB.{id_col}").alias("id_b"),
        F.round(F.col("l2_dist"), 6).alias("l2_dist"),
    ).filter(F.col("id_a") < F.col("id_b"))


# --- distributed Lloyd's k-means --------------------------------------------

def kmeans_centroid_step(assigned: DataFrame, *,
                         vec_col: str = "embedding",
                         cluster_col: str = "centroid_id",
                         scale: int = 1_000_000,
                         decimals: int = 6) -> DataFrame:
    """The k-means M-step as one distributed aggregate: per-cluster
    element-wise mean via posexplode + two-phase aggregation. Map-side
    combine collapses the exploded rows to #clusters × dim partial sums
    before the shuffle, so network volume is corpus-size-independent
    (SCALE.md §17). Component sums use the exact scaled-integer contract
    (× scale, round, SUM as BIGINT, ÷ scale·n, round to ``decimals``) so
    shuffle order cannot perturb the mean — the property that makes the
    whole iteration reproducible across engines and cluster layouts."""
    parts = (
        assigned.select(cluster_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(cluster_col, "pos")
        .agg(F.sum(F.round(F.col("v").cast("double") * scale)
                   .cast("long")).alias("s"),
             F.count(F.lit(1)).alias("n")))
    return (
        parts.groupBy(cluster_col)
        .agg(F.max("n").alias("n_vectors"),
             F.transform(
                 F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                 lambda x: F.round(x["s"] / float(scale) / x["n"], decimals))
             .alias("centroid")))


def kmeans_lloyd(vectors: DataFrame, init_centroids: DataFrame,
                 n_iter: int = 2, *,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 centroid_id_col: str = "centroid_id",
                 centroid_vec_col: str = "centroid") -> DataFrame:
    """Full Lloyd's k-means, distributed and deterministic: ``n_iter``
    alternations of E-step (``ivf_assign`` — centroids embedded as literals,
    a narrow argmin projection with ZERO joins) and M-step
    (:func:`kmeans_centroid_step` — one partial-aggregable shuffle of
    k × dim numbers). The driver touches only the k × dim centroid table
    between iterations; the corpus is materialized once (executor-local
    checkpoint, r10) and never collected — the textbook 100 TB k-means
    shape (the same persist-then-iterate loop MLlib runs, minus
    sampling-based init).

    Empty clusters are dropped (a centroid that attracts no vectors has no
    mean); ties in the E-step break to the lowest centroid id. Returns the
    final per-vector assignment (id, centroid_id) — compose with
    :func:`kmeans_centroid_step` for the final centroids.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # Materialize the training set ONCE (widened to session parallelism —
    # a single-file local scan arrives as one partition and serializes
    # the interpreted argmin math onto one core). Each iteration's
    # centroid collect is a separate driver action, and without a barrier
    # every action re-derives its E-step from the raw scan: at n_iter=2
    # the scan ran 3x and the first E-step twice. MLlib's KMeans persists
    # its norm-augmented input for exactly this reason; localCheckpoint is
    # the repo's no-persist-leak equivalent (blocks free on GC). Cluster
    # caveat as elsewhere: executor-local blocks — use a reliable
    # checkpoint dir under executor churn.
    from server2_vector_search_server_spark.operators.dedup import _widen

    vectors = _widen(vectors).localCheckpoint(eager=True)
    cent = init_centroids.select(
        F.col(centroid_id_col), F.col(centroid_vec_col))
    assigned = None
    for _ in range(n_iter):
        assigned = ivf_assign(vectors, cent, vec_col=vec_col, id_col=id_col,
                              centroid_id_col=centroid_id_col,
                              centroid_vec_col=centroid_vec_col)
        cent = (kmeans_centroid_step(assigned, vec_col=vec_col,
                                     cluster_col=centroid_id_col)
                .select(F.col(centroid_id_col),
                        F.col("centroid").alias(centroid_vec_col)))
    return assigned.drop(vec_col)


def _ivf_batch_topk(cells: DataFrame, centroids: DataFrame,
                    queries: DataFrame, k: int, nprobe: int, *,
                    vec_col: str, id_col: str, query_id_col: str,
                    query_vec_col: str, centroid_id_col: str,
                    centroid_vec_col: str, score_decimals: int) -> DataFrame:
    """The shared body of the batch IVF searches: each query's nprobe
    nearest cells (rounded distance, lowest id on ties) as one expression
    over the query rows, broadcast-joined to the cell-keyed ``cells`` so
    each row is scored only against the queries probing its cell, then
    each query's top-k."""
    cent_rows = sorted(centroids.collect(),
                       key=lambda r: r[centroid_id_col])
    q_paired, cb_vecs_sql, cb_ids_sql = codebook_transport_sql(
        queries, cent_rows, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col)
    ranked = F.expr(
        f"array_sort(zip_with(transform({cb_vecs_sql}, "
        f"c -> round({squared_l2_sql('c', f'`{query_vec_col}`')}, "
        f"{score_decimals})), {cb_ids_sql}, "
        f"(d, cid) -> named_struct('d', d, 'cid', cid)))")
    probes = (
        q_paired.select(
            query_id_col, query_vec_col,
            F.explode(F.slice(ranked, 1, nprobe)).alias("_p"))
        .select(query_id_col, query_vec_col,
                F.col("_p.cid").alias(centroid_id_col)))
    cand = (cells.join(F.broadcast(probes), centroid_id_col)
            .withColumn("score", exact_score(
                f"`{query_vec_col}`", f"`{vec_col}`", score_decimals)))
    return (top_k_per_query(cand, k, query_id_col=query_id_col,
                            id_col=id_col, rank_col="_rn")
            .drop("_rn", vec_col, query_vec_col))


def ivf_knn_batch(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """IVF-Flat serving for a BATCH of queries — the production shape: N
    queries arrive as a DataFrame, each probes its own nprobe nearest
    cells, and one partition-pruned scan answers all of them.

    Probe selection is a pure expression over the query rows (centroids
    embedded as literals; per-query cell ranking = array_sort of
    (distance, cid) structs, sliced to nprobe, exploded) — no driver loop
    over queries, unlike the single-query form's Python-side ranking. The
    probe table (N × nprobe rows) then equi-joins the cell-assigned corpus
    on ``centroid_id``: broadcast (queries are the small side), so the
    corpus is scanned ONCE for the whole batch and each row is scored only
    against the queries probing its cell. Final per-query top-k is a
    window over (query, score) — exactly the multi-query contract of
    ``knn_join``, recall bounded by nprobe as in ``ivf_knn``.
    """
    assigned = ivf_assign(vectors, centroids, vec_col=vec_col, id_col=id_col,
                          centroid_id_col=centroid_id_col,
                          centroid_vec_col=centroid_vec_col)
    return _ivf_batch_topk(
        assigned, centroids, queries, k, nprobe, vec_col=vec_col,
        id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col, score_decimals=score_decimals)


def ivf_knn_batch_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """Batched serving against the MATERIALIZED index
    (:func:`write_ivf_pq_index` layout): the per-query probe table joins
    the stored table on its PARTITION column, so Spark's dynamic partition
    pruning derives the probed-cell set from the broadcast side at runtime
    and the scan touches only the union of probed cell DIRECTORIES —
    asserted on the executed plan in tests. This is the full 100 TB
    serving story: no assignment recompute (cells are the layout), no
    full-table scan (DPP), one scan for N queries (the batch form's
    economics, SCALE.md §21). Exact scoring within probed cells — same
    output contract as :func:`ivf_knn_batch`."""
    stored = spark.read.parquet(index_path)
    return _ivf_batch_topk(
        stored, centroids, queries, k, nprobe, vec_col=vec_col,
        id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col, score_decimals=score_decimals,
    ).drop("ingest_batch",
           *[c for c in stored.columns if c.startswith("pq_code_")])


def adaptive_filtered_knn(
    filtered: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 2,
    *,
    cutoff: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Cost-based strategy switch for filtered vector search — the planner
    decision an adaptive engine makes per query: when the metadata filter
    leaves few survivors, an EXACT scan of the survivors is both cheaper
    and more accurate than probing the index (nothing to prune, and IVF
    could miss survivors outside the probed cells); when the filter is
    broad, fall back to IVF cell pruning (:func:`ivf_knn`) so the ranking
    never touches the whole corpus.

    The statistics probe is one ``count()`` on the filtered frame — at
    100 TB this is a catalog/statistics lookup (or a cached selectivity
    estimate), not a data scan; here the filter is pushed into the parquet
    scan so the count reads only the pruned row groups. Output is
    strategy-uniform: (id, score, strategy).
    """
    n = filtered.count()
    if n <= cutoff:
        picked = knn_topk(filtered, query_vec, k, vec_col=vec_col,
                          id_col=id_col, score_decimals=score_decimals)
        strategy = "exact"
    else:
        picked = ivf_knn(filtered, centroids, query_vec, k=k,
                         nprobe=nprobe, vec_col=vec_col, id_col=id_col,
                         score_decimals=score_decimals)
        strategy = "ivf"
    return (picked.select(F.col(id_col), F.col("score"))
            .withColumn("strategy", F.lit(strategy)))


def residual_pq_codebooks(vectors: DataFrame, centroids: DataFrame,
                          n_subspaces: int, n_codewords: int, *,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          centroid_id_col: str = "centroid_id",
                          centroid_vec_col: str = "centroid"
                          ) -> list[list[list[float]]]:
    """RESIDUAL PQ codebooks (the Faiss IVF-PQ default): codewords quantize
    ``v − centroid(cell(v))`` instead of ``v``. Residuals concentrate
    around the origin with far less variance than raw vectors, so the same
    code budget spends its precision where the within-cell differences
    live — the standard recall lift over non-residual PQ (Jégou et al.
    2011 §IV, public method). Same data-derived-anchor policy as
    :func:`pq_codebooks` (residuals of the first ``n_codewords`` corpus
    rows), so encodings stay SQL-reproducible. Assignment is replicated
    driver-side with the engine's argmin convention (min distance, lowest
    centroid id on ties; identical IEEE doubles)."""
    cent_rows = centroids.collect()
    first = (vectors.filter(F.col(id_col) < n_codewords).orderBy(id_col)
             .select(id_col, vec_col).collect())
    dim = len(first[0][vec_col])
    sub = dim // n_subspaces
    books: list[list[list[float]]] = [[] for _ in range(n_subspaces)]
    for r in first:
        v = [float(x) for x in r[vec_col]]
        best = _nearest_cells(cent_rows, v, 1, centroid_id_col,
                              centroid_vec_col)[0]
        resid = [a - float(b) for a, b in zip(v, best[centroid_vec_col])]
        for m in range(n_subspaces):
            books[m].append(resid[m * sub:(m + 1) * sub])
    return books


def ivf_pq_residual_knn(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    score_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the composition Faiss actually ships
    as ``IVFx,PQy``: rows are PQ-coded on ``v − centroid``, and the query
    builds ONE asymmetric-distance table PER PROBED CELL from its own
    residual ``q − centroid_c`` (nprobe small, so the per-cell tables are a
    when-chain of literal lookups). Candidate ranking stays M lookups per
    row; the k survivors get the exact full-precision rescore. Everything
    deterministic and SQL-reproducible — `ann_ivf_pq_residual_knn` hash-
    checks it, and the recall query quantifies the lift over the
    non-residual composition at the same (M, K, nprobe) budget."""
    probes = _nearest_cells(centroids.collect(), query_vec, nprobe,
                            centroid_id_col, centroid_vec_col)
    probe_ids = [r[centroid_id_col] for r in probes]

    assigned = ivf_assign(vectors, centroids, vec_col=vec_col,
                          id_col=id_col, centroid_id_col=centroid_id_col,
                          centroid_vec_col=centroid_vec_col)
    cent_sel = centroids.select(F.col(centroid_id_col),
                                F.col(centroid_vec_col).alias("_cvec"))
    cell = (assigned.filter(F.col(centroid_id_col).isin(probe_ids))
            .join(F.broadcast(cent_sel), centroid_id_col))
    resid = F.zip_with(F.col(vec_col), F.col("_cvec"),
                       lambda x, y: x.cast("double") - y.cast("double"))
    encoded = pq_encode(cell.withColumn("_resid", resid), codebooks,
                        vec_col="_resid")

    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    d2 = "0.0D"
    for m, cbook in enumerate(codebooks):
        lookup = ""
        for c in probes:
            qr = [float(a) - float(b)
                  for a, b in zip(query_vec, c[centroid_vec_col])]
            q_sub = qr[m * sub:(m + 1) * sub]
            # same bitwise argument as _pq_score
            table = [squared_l2_py(cw, q_sub) for cw in cbook]
            lookup += (f" WHEN `{centroid_id_col}` = {c[centroid_id_col]}"
                       f" THEN element_at({vector_literal_sql(table)},"
                       f" pq_code_{m + 1})")
        d2 += f" + CASE{lookup} END"
    encoded = encoded.withColumn("score_pq",
                                 F.expr(score_sql(d2, score_decimals)))
    cand = top_k(encoded, k, id_col=id_col, score_col="score_pq")
    return (cand.withColumn("score", exact_score(
                vector_literal_sql(query_vec), f"`{vec_col}`",
                score_decimals))
            .drop(vec_col, "_resid", "_cvec",
                  *[f"pq_code_{m + 1}" for m in range(n_sub)]))


# --- tier 2e: PCA pre-transform (rotation funnel) ---------------------------

def pca_components(corpus: DataFrame, out_dim: int, *,
                   vec_col: str = "embedding") -> list[list[float]]:
    """Fit an MLlib PCA on the corpus and return the dim x out_dim
    principal-component matrix (row i = input dim i's loadings).

    This is the Faiss-style ``PCAR`` pre-transform stage: an orthonormal
    rotation whose leading columns capture maximal variance, so truncating
    to ``out_dim`` components loses the least squared error of any linear
    projection (unlike the Matryoshka tier, which relies on the EMBEDDING
    MODEL having been trained with nested prefixes). Reference parity:
    vector_store.py serves fixed-dim HNSW; this is the engine-side
    compression knob that model can't offer. At 100 TB: fit on a bounded
    sample (covariance is a dim x dim aggregate — one map-side-combinable
    pass), broadcast the matrix, and materialize the projected column
    alongside the full vector so the ranking scan reads out_dim/dim of
    the bytes. Eigendecomposition is LAPACK-side and not SQL-reproducible,
    so queries built on this pin hash-checked invariants (the
    ``pq_codebooks_kmeans`` contract pattern)."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    ml_df = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    model = MLPCA(k=out_dim, inputCol="features", outputCol="pca") \
        .fit(ml_df)
    return [[float(x) for x in row] for row in model.pc.toArray()]


def pca_project(vectors: DataFrame, components: list[list[float]], *,
                vec_col: str = "embedding",
                out_col: str = "reduced") -> DataFrame:
    """Add ``out_col`` = vec @ components via a vectorized pandas_udf (one
    BLAS matmul per Arrow batch). An expression-literal matmul would put
    dim x out_dim multiply-adds into the plan tree — the cosine-LSH
    rewrite measured that shape costing seconds of plan build alone
    (ROUND_NOTES r5), and unlike the hyperplane case the dense fan-out
    join buys nothing here, so the Arrow path is the right one. Spark's
    own ``ml.feature.PCA.transform`` does the same multiply JVM-side but
    yields ml Vectors; this keeps plain arrays for the oracle-checkable
    funnel on top."""
    import numpy as np
    import pandas as pd

    pc = np.asarray(components, dtype=np.float64)

    def _proj(col):
        if len(col) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray(col.tolist(), dtype=np.float64)
        return pd.Series(list(mat @ pc))

    # explicit functionType: `from __future__ import annotations` stringifies
    # hints, which PySpark's eval-type inference can't read
    proj_udf = F.pandas_udf(_proj, "array<double>")
    return vectors.withColumn(out_col, proj_udf(F.col(vec_col)))


def pca_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    components: list[list[float]],
    k: int = 5,
    *,
    candidates: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """PCA two-stage retrieval: rank the corpus on squared-L2 in the
    ``out_dim``-component rotated space (query projected driver-side —
    one tiny matmul), keep ``candidates``, exact-rescore on the full
    vector, return top-k. Same funnel contract as ``matryoshka_knn``;
    the projection is the only stage Python touches, and it is
    Arrow-batched."""
    import numpy as np

    pc = np.asarray(components, dtype=np.float64)
    q_red = (np.asarray(list(query_vec), dtype=np.float64) @ pc).tolist()
    reduced = pca_project(corpus, components, vec_col=vec_col,
                          out_col="_red").withColumn(
        "score_pca", exact_score(vector_literal_sql(q_red), "`_red`",
                                 score_decimals))
    cand = top_k(reduced, candidates, id_col=id_col, score_col="score_pca")
    return knn_topk(cand, query_vec, k, vec_col=vec_col, id_col=id_col,
                    score_decimals=score_decimals).drop("_red")


# --- submodular data-subset selection (facility location) -------------------

def facility_location_select(universe: DataFrame, pool: DataFrame, k: int, *,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             score_decimals: int = 6) -> DataFrame:
    """Greedy facility-location subset selection (Lin & Bilmes, ACL 2011 —
    public; the standard submodular objective for training-data coreset /
    exemplar selection): pick ``k`` exemplars from ``pool`` maximizing
    coverage F(S) = Σ_{v∈universe} max_{s∈S} sim(v, s).  The greedy
    sequence is the classic 1−1/e approximation and, unlike MMR
    (relevance − redundancy for a QUERY), optimizes corpus COVERAGE — the
    curation move for "which n documents best represent this corpus".

    Exactness: per-pair similarity is ``max(cos(v, s), 0)`` (cosine, NOT
    the reference's 1−d² score — the synthetic vectors are not
    L2-normalized, so 1−d² is negative for every non-self pair and would
    make coverage degenerate) rounded to ``score_decimals`` then scaled
    to BIGINT micro-units, so every gain is an EXACT integer sum
    (shuffle-order-free) and the greedy argmax is deterministic with an
    id tiebreak — DuckDB-oracle-checkable.

    Scale shape: the pool rides broadcast against a corpus-sized
    universe; the (pool × universe) similarity table is computed ONCE and
    checkpointed — each greedy round is then one partial-aggregable SUM
    per candidate plus a universe-sized max for the coverage state, never
    a recomputation of similarities.  At 100 TB pool size is the lever
    (lazy/stochastic greedy — Mirzasoleiman et al. 2015 — samples the
    pool per round; same inner shape).

    Output: one row per pick — (rank 1..k, id, gain_micro, the exact
    marginal coverage gain, and coverage_micro, total coverage after the
    pick; gains are non-increasing by submodularity, which the caller can
    assert)."""
    spark = universe.sparkSession
    factor = 10 ** score_decimals
    u = universe.select(F.col(id_col).alias("_v"),
                        F.col(vec_col).alias("_uvec"))
    p = pool.select(F.col(id_col).alias("_c"),
                    F.col(vec_col).alias("_pvec"))
    sim = F.expr(f"round(greatest({cosine_sql('_uvec', '_pvec')}, 0.0D), "
                 f"{int(score_decimals)})")
    sims = (u.crossJoin(F.broadcast(p))
            .select("_c", "_v",
                    F.round(sim * factor).cast("long").alias("_s"))
            .localCheckpoint(eager=True))
    picked: list = []
    rows: list[tuple] = []
    total = 0
    for rank in range(1, k + 1):
        if picked:
            cov = (sims.filter(F.col("_c").isin(picked))
                   .groupBy("_v").agg(F.max("_s").alias("_cov")))
            gains = (sims.filter(~F.col("_c").isin(picked))
                     .join(cov, "_v", "left")
                     .withColumn("_g", F.greatest(
                         F.col("_s") - F.coalesce(F.col("_cov"),
                                                  F.lit(0)),
                         F.lit(0)))
                     .groupBy("_c")
                     .agg(F.sum("_g").cast("long").alias("_gain")))
        else:
            gains = (sims.groupBy("_c")
                     .agg(F.sum("_s").cast("long").alias("_gain")))
        top = top_k(gains, 1, id_col="_c", score_col="_gain").collect()
        if not top:
            break
        picked.append(top[0]["_c"])
        # coverage is the exact running sum of the (integer) marginal gains:
        # F(S ∪ {c}) = Σ_v max(cov_S(v), s(c,v))
        #            = Σ_v cov_S(v) + Σ_v max(s(c,v) − cov_S(v), 0)
        #            = F(S) + gain(c)   (s ≥ 0, cov_∅ = 0)
        # so the per-round coverage recompute job (a second scan + two
        # aggregates over `sims` per pick) is redundant — one action per
        # greedy round instead of two, same integers to the last digit.
        total += int(top[0]["_gain"])
        rows.append((rank, top[0]["_c"], int(top[0]["_gain"]), total))
    id_type = universe.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        rows, f"rank int, {id_col} {id_type}, "
              f"gain_micro long, coverage_micro long")
