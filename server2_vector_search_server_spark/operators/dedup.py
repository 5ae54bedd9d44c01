"""Deduplication operators for LLM training-data pipelines.

Beyond-reference surface required by BASELINE.json's north star: exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine near-dup.
All are pure DataFrame compositions (no Python UDFs), so they hold at 100 TB:

  * exact: hash-groupBy — one shuffle on the 128-bit digest;
  * MinHash LSH: signature is a narrow projection; candidate generation is an
    equi-join on (band_index, band_key) — shuffle proportional to docs×bands,
    NEVER all-pairs; verification runs only on bucket-collision pairs;
  * SimHash: 32-bit fingerprint per doc, candidates by fingerprint equality
    or small hamming radius;
  * n-gram Jaccard / cosine: exact verification primitives — the quadratic
    forms are provided for small candidate sets, the LSH paths above are the
    scale route.

Hash functions come from ``functions/text.py`` (portable 31-poly hash) so the
DuckDB oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from server2_vector_search_server_spark.functions.text import (
    MERSENNE31,
    token_hash,
    token_windows,
    tokens,
    word_shingles,
)
from server2_vector_search_server_spark.functions.vector import (
    dot_sql,
    l2_normalize_sql,
)

# Deterministic affine permutation parameters for MinHash: h_j(x) =
# (A_j·x + B_j) mod 2^31−1. Derived from a fixed LCG so the DuckDB oracle
# can embed the same literals (see plans/dedup_queries.py).
NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS


def _lcg(seed: int):
    x = seed
    while True:
        x = (1103515245 * x + 12345) % (1 << 31)
        yield x


def perm_params(num_perm: int = NUM_PERM) -> list[tuple[int, int]]:
    gen = _lcg(42)
    out = []
    for _ in range(num_perm):
        a = (next(gen) % (MERSENNE31 - 1)) | 1     # odd, non-zero
        b = next(gen) % MERSENNE31
        out.append((a, b))
    return out


PERMS = perm_params()


def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input arrives narrower. A small parquet file scans as ONE partition,
    which serializes every per-document heavy expression (MinHash
    signatures, SimHash votes, shingle sets) onto one core — measured 11 s
    single-partition vs sub-second wide for full-corpus MinHash signatures
    at sf0.1. No-op when the input is already at least that wide: at real
    scale the scan width is governed by spark.sql.files.maxPartitionBytes
    and an extra shuffle of raw text would be pure cost."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= nparts:
        return df
    return df.repartition(nparts)


# --- exact dedup ------------------------------------------------------------

def exact_duplicate_groups(docs: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per duplicated content with
    the keeper (min id), the cluster size, and the sorted member ids."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("cluster_size"),
             F.sort_array(F.collect_list(id_col)).alias("member_ids"))
        .filter(F.col("cluster_size") > 1)
    )


def drop_exact_duplicates(docs: DataFrame, *, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct content (the dedup a training
    pipeline applies before anything else)."""
    w_min = (
        docs.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(w_min, on=id_col, how="left_semi")


# --- MinHash + LSH ----------------------------------------------------------

def _long_lits(vals) -> Column:
    """Literal ``array<long>`` built in ONE ``F.expr`` call — the
    ``F.array(*[F.lit(v).cast("long")...])`` form pays a py4j round trip
    per element, and the signature builders call this with 62-slot bit
    tables per plan build (r10: the same driver-side build-time tax
    ``operators/knn.vector_literal_sql`` documents)."""
    body = ",".join(f"{int(v)}L" for v in vals)
    return F.expr(f"array({body})")


def minhash_signature(text: Column, *, shingle_n: int = 3,
                      num_perm: int = NUM_PERM) -> Column:
    """MinHash signature (array<long> of length num_perm) over word-shingle
    hashes. Entirely codegen'd array arithmetic.

    Single-pass form: one F.aggregate over the shingle-hash array keeps a
    running-min accumulator for all permutations at once, so the shingle +
    hash computation runs once per row instead of once per permutation
    (num_perm separate array_min(transform(...)) expressions re-evaluated
    the hashes array each time — 16× the work, measured ~10× slower).
    Values are identical: same (a·x+b) mod p arithmetic, same empty-doc
    sentinel (the accumulator's initial value)."""
    perms = perm_params(num_perm)
    lit_a = _long_lits(a for a, _ in perms)
    lit_b = _long_lits(b for _, b in perms)
    hashes = F.transform(word_shingles(text, shingle_n), token_hash)
    init = _long_lits([MERSENNE31] * num_perm)
    return F.aggregate(
        hashes, init,
        lambda acc, x: F.transform(
            acc,
            lambda v, i: F.least(
                v,
                (F.element_at(lit_a, i + 1) * x
                 + F.element_at(lit_b, i + 1)) % MERSENNE31)))


def add_minhash(docs: DataFrame, *, text_col: str = "text",
                sig_col: str = "minhash") -> DataFrame:
    return docs.withColumn(sig_col, minhash_signature(F.col(text_col)))


def lsh_bands(sigs: DataFrame, *, id_col: str = "doc_id",
              sig_col: str = "minhash", bands: int = BANDS) -> DataFrame:
    """Explode each signature into (id, band_index, band_key) rows; band_key
    is the joined slice (portable string form for the oracle)."""
    rows = NUM_PERM // bands
    band_rows = [
        F.struct(F.lit(i).alias("band_index"),
                 F.concat_ws("-", *[
                     F.element_at(F.col(sig_col), i * rows + j + 1)
                     .cast("string")
                     for j in range(rows)]).alias("band_key"))
        for i in range(bands)
    ]
    return (
        sigs.select(id_col, F.explode(F.array(*band_rows)).alias("b"))
        .select(id_col, "b.band_index", "b.band_key")
    )


def minhash_candidate_pairs(sigs: DataFrame, *, id_col: str = "doc_id",
                            sig_col: str = "minhash",
                            bands: int = BANDS) -> DataFrame:
    """LSH candidate generation: pairs sharing ≥1 band. Equi-join on
    (band_index, band_key) — the whole point vs. the quadratic cross join."""
    b = lsh_bands(sigs, id_col=id_col, sig_col=sig_col, bands=bands)
    left = b.select(F.col(id_col).alias("id_a"), "band_index", "band_key")
    right = b.select(F.col(id_col).alias("id_b"), "band_index", "band_key")
    return (
        left.join(right, ["band_index", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


def signature_similarity(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of equal signature positions."""
    eq = F.zip_with(sig_a, sig_b,
                    lambda x, y: F.when(x == y, 1).otherwise(0))
    return (F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
            .cast("double") / F.size(sig_a))


def minhash_near_duplicates(docs: DataFrame, *, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    signature-similarity verification ≥ threshold.

    The (id, signature) projection is materialized once (EAGER
    localCheckpoint): it feeds both sides of the band self-join plus both
    verification joins, and at scale it is tiny relative to the corpus
    (num_perm longs per doc) — materializing it once is the 100 TB-safe
    choice vs recomputing text shingling four times. Checkpoint, not
    persist: checkpoint blocks free when the result is GC'd, while a
    persist() with no unpersist() pins cache in a long-lived session
    (the r3 ADVICE class); eager materialization is the same deterministic
    barrier persist+count was, without the lazy-checkpoint/AQE race.
    Cluster caveat: localCheckpoint trades lineage for executor-local
    blocks — on deployments with executor churn/dynamic allocation,
    swap in ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``
    (reliable storage) at the same call sites."""
    sigs = (add_minhash(_widen(docs), text_col=text_col)
            .select(id_col, "minhash").localCheckpoint(eager=True))
    pairs = minhash_candidate_pairs(sigs, id_col=id_col)
    a = sigs.select(F.col(id_col).alias("id_a"),
                    F.col("minhash").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"),
                    F.col("minhash").alias("sig_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("est_jaccard",
                    F.round(signature_similarity(F.col("sig_a"),
                                                 F.col("sig_b")), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def drop_minhash_near_duplicates(docs: DataFrame, *, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 bands: int = BANDS) -> DataFrame:
    """Pairs-free fuzzy dedup: keep, for every LSH-bucket cluster, the
    member with the smallest id — without ever materializing candidate
    PAIRS.

    This is the shape that survives pathological duplication. With
    ``minhash_candidate_pairs`` a cluster of c near-identical documents
    (boilerplate pages duplicated millions of times in a web crawl) emits
    c²/2 pairs per colliding band; candidate volume goes quadratic in the
    duplication factor even though the join is an equi-join. Here each
    bucket is reduced to its MIN id first (map-side-combinable groupBy), a
    document learns the smallest representative it collides with via a
    second min over its own bands, and it survives iff that representative
    is itself. Shuffle is ∝ docs×bands at every stage regardless of how
    skewed the duplicate clusters are (SCALE.md §22 measures the two shapes
    against a 100×-replicated corpus).

    Semantics: one-hop bucket-min (a doc is dropped iff some bucket links
    it to a smaller id) — the keep-one-per-bucket contract used by
    SlimPajama-style pipelines. It drops a superset of what the
    pair+verify path drops at the same banding (collision without
    signature-verification); for verified-pair semantics with bounded
    clusters use ``minhash_near_duplicates``.
    """
    # Materialize the signatures: without this, projection collapse inlines
    # the full minhash F.aggregate into EVERY band-slice element_at (bands ×
    # rows_per_band re-evaluations per row — measured 6× slower in the §22
    # pipeline). EAGER localCheckpoint: the §22 CPU blowups came from LAZY
    # checkpoints materialized concurrently by AQE's broadcast-build
    # futures; eager materialization is the same deterministic barrier the
    # old persist+count was, and its blocks free on GC instead of pinning
    # session cache (r3 ADVICE class).
    sigs = (add_minhash(_widen(docs), text_col=text_col)
            .select(id_col, "minhash").localCheckpoint(eager=True))
    b = lsh_bands(sigs, id_col=id_col, bands=bands)
    bucket_min = (b.groupBy("band_index", "band_key")
                  .agg(F.min(id_col).alias("bucket_rep")))
    rep = (b.join(bucket_min, ["band_index", "band_key"])
           .groupBy(id_col)
           .agg(F.min("bucket_rep").alias("rep")))
    keep = (rep.filter(F.col("rep") == F.col(id_col))
            .select(id_col))
    return docs.join(keep, id_col, "left_semi")


# --- SimHash ----------------------------------------------------------------

# 62, not 32 (round 4): the token hash is mod 2^31−1, so it carries only
# 31 useful bits — the old 32-bit fingerprint's top bit was degenerate
# (always 0), and worse, 8-bit Manku segments give only 256 blocking keys,
# leaving blocked candidate volume at ~n²/256 per segment (measured: the
# blocked join stopped beating the cross join on a 200k-doc sparse corpus,
# SCALE.md §34). Two derived 31-bit hashes per token widen the fingerprint
# to 62 bits → 15/16-bit segments → 32-65k keys per segment, the key-space
# Manku's 64-bit design assumes.
SIMHASH_BITS = 62
# second hash: h2 = (A2·h1 + B2) mod 2^31−1 — literals shared with the
# DuckDB oracle (plans/dedup_queries._sql_simhash)
SIMHASH_A2 = 1_103_515_245
SIMHASH_B2 = 12_345


def simhash(text: Column, *, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over unigram token hashes: bit i set iff Σ_t (±1 per bit i
    of hash(t)) > 0 (Charikar STOC'02, public). Bits 0-30 vote with the
    31-poly token hash, bits 31-61 with the derived second hash.

    Single-pass form (the ``minhash_signature`` lesson): ONE ``F.aggregate``
    over the token-hash array carries a ``bits``-slot vote accumulator —
    the naive per-bit form re-traverses the array ``bits`` times and
    recomputes the second hash per bit (62 scans; measured 2.4× slower at
    62 bits). ``shiftright`` needs a literal shift, so bit extraction uses
    a literal power array: bit i of h is ``(h % 2p >= p)`` with
    ``p = pow2[i]``."""
    th = F.transform(tokens(text), token_hash)
    # per bit slot: which hash (h1 for 0-30, h2 above) and which power
    pows = _long_lits(1 << (i if i < 31 else i - 31) for i in range(bits))
    weights = _long_lits(1 << i for i in range(bits))
    init = _long_lits([0] * bits)

    def step(acc, h1):
        h2 = (F.lit(SIMHASH_A2).cast("long") * h1
              + F.lit(SIMHASH_B2)) % MERSENNE31

        def vote(v, i):
            h = F.when(i < 31, h1).otherwise(h2)
            p = F.element_at(pows, i + 1)
            bit = (h % (p * 2) >= p).cast("long")
            return v + bit * 2 - 1
        return F.transform(acc, vote)

    votes = F.aggregate(th, init, step)
    signed = F.zip_with(
        votes, weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")))
    return F.aggregate(signed, F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


def simhash_segments(fingerprint: Column, *, max_hamming: int = 3,
                     bits: int = SIMHASH_BITS) -> list[Column]:
    """Manku-style block keys (Manku, Jain & Das Sarma, WWW 2007, public
    method): split a ``bits``-bit fingerprint into ``max_hamming + 1``
    contiguous segments. Two fingerprints within Hamming distance
    ``max_hamming`` differ in at most ``max_hamming`` bits, so by
    pigeonhole AT LEAST ONE segment is bit-identical — an equi-join per
    segment is an exhaustive (recall-1.0) candidate generator."""
    nseg = max_hamming + 1
    base, rem = divmod(bits, nseg)
    out, off = [], 0
    for i in range(nseg):
        size = base + (1 if i < rem else 0)
        mask = (1 << size) - 1
        out.append(F.shiftright(fingerprint, off)
                   .bitwiseAND(F.lit(mask).cast("long")))
        off += size
    return out


def simhash_near_duplicates(docs: DataFrame, *, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            max_id: int | None = None) -> DataFrame:
    """Pairs within ``max_hamming`` bits, via Manku segment blocking — the
    same result set as an all-pairs Hamming scan (equivalence pinned in
    tests/test_dedup_ann_text.py), with NO cross join anywhere:

    1. fingerprint once per doc (materialized — localCheckpoint, so the
       self-join's two branches don't recompute the 32 vote aggregates);
    2. explode into ``max_hamming + 1`` (segment_index, segment_value)
       block keys — a narrow transform, rows ∝ docs × segments;
    3. EQUI-join on the block key (shuffle ∝ docs × segments, never
       docs²) — pigeonhole guarantees every qualifying pair collides in
       at least one segment;
    4. exact ``bit_count(xor)`` verify + distinct (a pair can collide in
       several segments).

    Manku's second trick matters as much as the first on duplicate-heavy
    corpora: IDENTICAL fingerprints are collapsed into classes before the
    blocked join, which then runs over DISTINCT fingerprints only
    (measured on the synthetic near-dup fixture: 2,277 distinct among
    4,000 docs). Id pairs are recovered afterwards by joining class
    members back in — an output-sized expansion, never candidate-sized:

    - intra-class pairs (hamming 0): one equi-join of the corpus with
      itself ON the fingerprint — shuffle ∝ docs, output ∝ the answer;
    - cross-class pairs: blocked equi-join over distinct fingerprints
      (candidates ∝ Σ segment-bucket² over the DEDUPLICATED fingerprint
      set), Hamming verified once per fingerprint pair, then expanded
      members × members.

    Segment-value skew (many fingerprints sharing one 8-bit segment
    value) is what the class collapse defuses; AQE skew-join splits any
    residual hot bucket (SCALE.md §34)."""
    d = docs if max_id is None else docs.filter(F.col(id_col) < max_id)
    s = (_widen(d).select(F.col(id_col).alias("id"),
                          simhash(F.col(text_col)).alias("sh"))
         .localCheckpoint(eager=True))

    # intra-class: identical fingerprints, hamming 0 by construction
    ca = s.select(F.col("id").alias("id_a"), "sh")
    cb = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    intra = (ca.join(cb, (ca["sh"] == cb["sh_b"])
                     & (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b", F.lit(0).alias("hamming")))

    # cross-class: blocked join over DISTINCT fingerprints
    fps = s.select("sh").distinct()
    segs = simhash_segments(F.col("sh"), max_hamming=max_hamming)
    keyed = fps.select(
        "sh", F.posexplode(F.array(*segs)).alias("seg_i", "seg_v"))
    fa = keyed.select(F.col("sh").alias("sh_a"), "seg_i", "seg_v")
    fb = keyed.select(F.col("sh").alias("sh_b"),
                      F.col("seg_i").alias("seg_i_b"),
                      F.col("seg_v").alias("seg_v_b"))
    fp_pairs = (
        fa.join(fb, (F.col("seg_i") == F.col("seg_i_b"))
                & (F.col("seg_v") == F.col("seg_v_b"))
                & (F.col("sh_a") < F.col("sh_b")))
        .withColumn("hamming",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter((F.col("hamming") <= max_hamming) & (F.col("hamming") > 0))
        .select("sh_a", "sh_b", "hamming")
        .distinct())
    cross = (
        fp_pairs
        .join(s.select(F.col("id").alias("_ia"),
                       F.col("sh").alias("sh_a")), "sh_a")
        .join(s.select(F.col("id").alias("_ib"),
                       F.col("sh").alias("sh_b")), "sh_b")
        .select(F.least("_ia", "_ib").alias("id_a"),
                F.greatest("_ia", "_ib").alias("id_b"),
                "hamming"))
    return intra.unionByName(cross)


# --- n-gram Jaccard ---------------------------------------------------------

def jaccard_similarity(shingles_a: Column, shingles_b: Column) -> Column:
    inter = F.size(F.array_intersect(shingles_a, shingles_b))
    union = F.size(F.array_union(shingles_a, shingles_b))
    return F.when(union == 0, F.lit(0.0)) \
            .otherwise(inter.cast("double") / union.cast("double"))


def ngram_jaccard_pairs(docs: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.2,
                        max_id: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over doc pairs ≥ threshold (verification
    primitive; MinHash-LSH is the candidate generator at scale)."""
    d = docs if max_id is None else docs.filter(F.col(id_col) < max_id)
    s = _widen(d).select(F.col(id_col).alias("id"),
                         word_shingles(F.col(text_col), n).alias("sh"))
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard",
                    F.round(jaccard_similarity(F.col("sh_a"),
                                               F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(docs: DataFrame, *, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                threshold: float = 0.5) -> DataFrame:
    """EXACT threshold-Jaccard pairs WITHOUT the quadratic cross join:
    AllPairs/PPJoin prefix filtering (Bayardo et al. WWW'07; Xiao et al.
    WWW'08 — public algorithms).

    Order every document's shingle SET by global rarity (document
    frequency ascending, token ascending); any pair with Jaccard ≥ t must
    share at least one token inside both documents' first
    ``|x| − ceil(t·|x|) + 1`` tokens (if the prefixes were disjoint, the
    overlap is at most min(|A|,|B|) − prefix complement < t·max(|A|,|B|) ≤
    the overlap Jaccard ≥ t requires). So: equi-join on PREFIX tokens for
    candidates — no false negatives, unlike MinHash banding — then verify
    exact Jaccard only on candidates.

    Scale: the join is candidates ∝ Σ df(prefix_token)² over RARE tokens
    by construction (rarity ordering is what shrinks the blow-up); the
    df pass is one vocabulary-sized aggregate, broadcast back. Same
    result contract as :func:`ngram_jaccard_pairs` — the oracle parity
    against the quadratic reference IS the no-false-negative proof.
    """
    s = _widen(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), n)).alias("sh"))
    s = s.localCheckpoint(eager=True)     # reused 3x: df pass, prefixes, verify
    tok = s.select("id", F.size("sh").alias("sz"),
                   F.explode("sh").alias("t"))
    df_tok = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(),
                                         F.col("t").asc())
    pref = (tok.join(df_tok, "t")
            .withColumn("pos", F.row_number().over(w))
            # ceil over a ROUNDED product: a bare float t·sz can overshoot
            # the exact rational (0.55·20 = 11.000000000000002 → ceil 12),
            # shortening the prefix and silently dropping true pairs. The
            # 9-decimal round restores the exact value for any threshold
            # representable at ≤9 decimal digits, preserving the operator's
            # no-false-negative guarantee at non-binary thresholds.
            .filter(F.col("pos") <=
                    F.col("sz")
                    - F.ceil(F.round(F.lit(threshold) * F.col("sz"), 9))
                    + 1)
            .select("id", "t"))
    cand = (pref.select(F.col("id").alias("id_a"), "t")
            .join(pref.select(F.col("id").alias("id_b"), "t"), "t")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard",
                        F.round(jaccard_similarity(F.col("sh_a"),
                                                   F.col("sh_b")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# --- exact substring dedup (Lee et al. 2022, ExactSubstr) --------------------

def _dup_windows(docs: DataFrame, *, text_col: str, id_col: str,
                 window_tokens: int,
                 max_doc_freq: int | None) -> tuple[DataFrame, DataFrame]:
    """(id, pos, wh) rows for every window start, plus the duplicated
    window-key set. Shared plumbing for the pair and span forms below.

    The two forms need DIFFERENT duplication criteria, both derived from
    one aggregate here:

    - ``max_doc_freq`` set (pair form): keys in 2..max_doc_freq DISTINCT
      documents — pairing is inherently cross-document, and the cap is
      the f² candidate-blowup valve;
    - ``max_doc_freq=None`` (span form): keys with ≥ 2 TOTAL occurrences,
      same doc or not — ExactSubstr's criterion includes a paragraph
      repeated within one document, and span output is linear in
      occurrences, so no cap is needed.

    The window table is materialized ONCE (eager localCheckpoint): it feeds
    the duplicated-key aggregate plus both sides of the pair self-join, and
    tokenize → k-window concat → md5 is the expensive per-token work — left
    lazy, Catalyst re-evaluates it per consumer (measured 3× the window
    extraction at 20k docs: 47 s → 12 s from this one barrier). At corpus
    scale this materialization is the (id, pos, key) posting table —
    32 B/key however wide the window — which a real deployment writes to
    storage once per corpus version anyway."""
    w = (_widen(docs)
         .select(F.col(id_col).alias("id"),
                 F.posexplode(token_windows(F.col(text_col), window_tokens))
                 .alias("p0", "win"))
         .select("id", (F.col("p0") + 1).cast("long").alias("pos"),
                 F.md5("win").alias("wh"))
         .localCheckpoint(eager=True))
    if max_doc_freq is None:
        dup = (w.groupBy("wh")
               .agg(F.count(F.lit(1)).alias("nocc"))
               .filter(F.col("nocc") >= 2)
               .select("wh"))
    else:
        dup = (w.groupBy("wh")
               .agg(F.count_distinct("id").alias("ndocs"))
               .filter((F.col("ndocs") >= 2)
                       & (F.col("ndocs") <= max_doc_freq))
               .select("wh"))
    return w, dup


def substring_duplicate_pairs(docs: DataFrame, *, text_col: str = "text",
                              id_col: str = "doc_id",
                              window_tokens: int = 8,
                              max_doc_freq: int = 100) -> DataFrame:
    """Document pairs sharing at least one EXACT run of ``window_tokens``
    consecutive tokens (the suffix-array dedup of Lee et al. 2022,
    arXiv:2107.06499, re-expressed for a distributed engine as rolling
    k-token windows — the standard stand-in, since a global suffix array
    is not shardable, and any duplicated substring of length ≥ k contains
    a duplicated k-window).

    Scale shape: windows ∝ total tokens, keyed by md5 (128-bit — collision
    odds negligible, and the key is a fixed 32 bytes however long the
    window). Candidate pairs come from an EQUI-join on the window key over
    per-doc DISTINCT window sets, never a cross join; ``max_doc_freq``
    drops windows shared by more than that many documents (boilerplate —
    license headers, navigation chrome — is the skew case: a window in f
    docs contributes f² candidates, so the cap bounds the blowup exactly
    the way stop-words bound an inverted index; capped windows are
    REPORTED by the companion span form, just not paired)."""
    w, dup = _dup_windows(docs, text_col=text_col, id_col=id_col,
                          window_tokens=window_tokens,
                          max_doc_freq=max_doc_freq)
    dw = w.join(dup, "wh").select("id", "wh").distinct()
    a = dw.select(F.col("id").alias("id_a"), "wh")
    b = dw.select(F.col("id").alias("id_b"), F.col("wh").alias("wh_b"))
    return (a.join(b, (a["wh"] == b["wh_b"])
                   & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_windows")))


def substring_duplicate_spans(docs: DataFrame, *, text_col: str = "text",
                              id_col: str = "doc_id",
                              window_tokens: int = 8) -> DataFrame:
    """Per-document MERGED token spans covered by duplicated windows — the
    deletion unit of ExactSubstr dedup (Lee et al. 2022 remove the
    duplicated bytes, not the document). A window starting at ``pos``
    covers tokens ``[pos, pos + k − 1]``; overlapping/adjacent flagged
    windows merge via gaps-and-islands (a running ``max(end)`` window
    over start order — per-document partitions, so the window state is
    bounded by document length, never corpus size).

    Duplication here means ≥ 2 TOTAL occurrences, same document or not —
    the paper's suffix array sees a paragraph repeated within one doc, so
    this form must too — and carries NO frequency cap, unlike the pair
    form: a window in f documents contributes f flagged rows (linear),
    not f² pairs, so corpus-wide boilerplate is safe to report and is
    exactly what a deletion pipeline needs to see."""
    from pyspark.sql import Window as W

    w, dup = _dup_windows(docs, text_col=text_col, id_col=id_col,
                          window_tokens=window_tokens,
                          max_doc_freq=None)
    flagged = (w.join(dup, "wh")
               .select("id", "pos",
                       (F.col("pos") + window_tokens - 1).alias("end")))
    order = W.partitionBy("id").orderBy("pos")
    prev_max = F.max("end").over(
        order.rowsBetween(W.unboundedPreceding, -1))
    brk = F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1) \
        .otherwise(0)
    islands = (flagged
               .withColumn("island", F.sum(brk).over(order)))
    return (islands.groupBy("id", "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end").alias("span_end"))
            .select(F.col("id").alias(id_col), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_tokens")))


# --- embedding cosine -------------------------------------------------------

def cosine_near_duplicates(vectors: DataFrame, *, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.9,
                           max_id: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold. Exact form for bounded
    sets; ``operators/ann.py`` provides the LSH-bucketed scale path.

    Vectors are L2-normalized ONCE per row (materialized via
    localCheckpoint, so Catalyst cannot inline the norm back into the join
    condition), making the per-pair work a single dot product. The naive
    form — ``cosine_sql`` inside the pair filter — recomputes BOTH
    norms per pair because the predicate gets pushed into the cross-join
    condition: 4 extra array aggregates × O(n²) pairs. localCheckpoint, not
    persist: a persist() with no unpersist() pins cached storage across
    repeated calls in a long-lived session (ADVICE r3); checkpoint blocks
    are freed when the result is garbage-collected — same pattern as
    ``semantic_dedup`` below. Oracle mirrors the normalize-then-dot
    arithmetic exactly.

    The normalized set is repartitioned to the session's default
    parallelism BEFORE the checkpoint: the nested-loop join's stream side
    inherits the checkpoint's partitioning, and a parquet-scan residue of
    1-2 partitions serializes the O(n²) interpreted dot products onto 1-2
    cores. The checkpoint is LAZY (``eager=False``): the plan is truncated
    at call time either way (the DataFrame becomes a ``Scan ExistingRDD``,
    so Catalyst cannot inline the norms into the join condition), but lazy
    folds the materialization into the join's broadcast-build job instead
    of paying a separate driver-blocking job per call — A/B at local[32],
    80k pairs: eager/narrow 1.34 s, eager/repartitioned 0.94 s,
    lazy/repartitioned 0.77 s median."""
    v = vectors if max_id is None else vectors.filter(F.col(id_col) < max_id)
    # zero-norm guard: all-zero vector stays all-zero (cosine 0 vs anything)
    normalized = (
        _widen(v.select(F.col(id_col),
                        F.expr(l2_normalize_sql(f"`{vec_col}`")).alias("_nv")))
        .localCheckpoint(eager=False)
    )
    a = normalized.select(F.col(id_col).alias("id_a"), F.col("_nv").alias("n_a"))
    b = normalized.select(F.col(id_col).alias("id_b"), F.col("_nv").alias("n_b"))
    return (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(f"round({dot_sql('n_a', 'n_b')}, 6)"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_lsh_near_duplicates(vectors: DataFrame,
                               hyperplanes: "Sequence[Sequence[float]]", *,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               threshold: float = 0.9,
                               tables: int = 4,
                               bits: int = 8) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table sign-LSH candidate
    generation + exact verification — the 100 TB path for what
    :func:`cosine_near_duplicates` computes quadratically (Charikar 2002
    random-hyperplane LSH; public algorithm).

    Each of ``tables`` hash tables buckets every vector by ``bits`` sign
    bits against fixed hyperplanes (``hyperplanes[t*bits + i]``); candidate
    pairs agree on the FULL bucket key in at least one table, then are
    verified with the same normalize-once-then-dot arithmetic as the exact
    form. Identical vectors always collide (same signs in every table), so
    exact duplicates are never missed; near-pairs collide with probability
    1 − (1 − (1 − θ/π)^bits)^tables — recall is tunable, and
    ``dedup_cosine_lsh_quality_eval`` measures it against the exact truth.

    Scale: the hyperplanes ride as a broadcast TABLE, not as plan
    literals — bucket bits come from one broadcast join + a (id, table)
    bit-sum aggregate, so the plan size is independent of
    ``tables × bits`` (the literal-expression form spent ~8 s per call
    just BUILDING the 32×64-constant tree — measured round 5). The
    candidate step is a self-equi-join on (table, bucket) — shuffle ∝
    docs × tables, pair work ∝ Σ bucket², never n². Needs
    ``tables*bits`` hyperplanes.
    """
    need = tables * bits
    if isinstance(hyperplanes, DataFrame):
        # r11 (VERDICT r10 #4): callers that draw hyperplanes from a table
        # pass the bounded (plane_idx int, plane array<double>) frame
        # directly — the old path collect()ed the planes to the driver and
        # re-shipped them via createDataFrame, one extra driver-blocking
        # job plus two pickle round trips per call for plan-constant data.
        # Values are identical: float32→double widening is exact on both
        # routes, and the downstream dot_sql casts to double either way.
        planes = hyperplanes
    else:
        if len(hyperplanes) < need:
            raise ValueError(
                f"need {need} hyperplanes, got {len(hyperplanes)}")
        planes = vectors.sparkSession.createDataFrame(
            [(i, [float(x) for x in h])
             for i, h in enumerate(hyperplanes[:need])],
            "plane_idx int, plane array<double>")
    # NO localCheckpoint here, deliberately — twice-over lineage recompute
    # is cheap (norms are a narrow projection; candidates come from HASH
    # joins, so unlike the exact crossJoin twin Catalyst cannot push the
    # normalize into an O(n²) loop condition), while each lazy checkpoint
    # costs 1-2.5 s of plan→RDD conversion at CALL time (measured r5 —
    # it dominated the pillar's wall). For a huge corpus, persist the
    # inputs outside the operator instead.
    normalized = _widen(vectors.select(
        F.col(id_col).alias("id"),
        F.expr(l2_normalize_sql(f"`{vec_col}`")).alias("_nv"),
    ))
    # sign bit per (vector, hyperplane): dot of COLUMN arrays — same
    # zip_with/aggregate fold order as the literal form, so the oracle's
    # arithmetic (and every sign) is unchanged
    # spread the fan-out: a small parquet scan arrives as 1-2 partitions,
    # which would serialize all docs × tables·bits interpreted
    # higher-order-function dots onto 1-2 cores (the same residue trap
    # cosine_near_duplicates documents); one tiny pre-shuffle of the raw
    # vectors buys full-width map-side dot computation
    par = vectors.sparkSession.sparkContext.defaultParallelism
    raw = (vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("_v"))
           .repartition(par))
    buckets = (raw.join(F.broadcast(planes))
               .select("id",
                       F.floor(F.col("plane_idx") / bits).cast("int")
                       .alias("tbl"),
                       F.when(F.expr(f"{dot_sql('_v', 'plane')} > 0"),
                              F.expr(f"shiftleft(1L, int(plane_idx "
                                     f"% {bits}))"))
                       .otherwise(F.lit(0).cast("long")).alias("_bit"))
               .groupBy("id", "tbl")
               .agg(F.sum("_bit").alias("bucket")))
    cand = (buckets.select(F.col("id").alias("id_a"), "tbl", "bucket")
            .join(buckets.select(F.col("id").alias("id_b"), "tbl", "bucket"),
                  ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    a = normalized.select(F.col("id").alias("id_a"), F.col("_nv").alias("n_a"))
    b = normalized.select(F.col("id").alias("id_b"), F.col("_nv").alias("n_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("cosine", F.expr(f"round({dot_sql('n_a', 'n_b')}, 6)"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def semantic_dedup(vectors: DataFrame, centroids: DataFrame, *,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   threshold: float = 0.95,
                   centroid_id_col: str = "centroid_id",
                   centroid_vec_col: str = "centroid") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a frozen coarse
    quantizer, then deduplicate ONLY within clusters — the trick that turns
    the quadratic all-pairs cosine problem into per-cluster work.

    Drop policy (deterministic, order-free): a vector is dropped iff some
    LOWER-id vector in the same cluster has cosine >= threshold with it —
    the id-ordered greedy pass of the paper expressed as one relational
    predicate, so the same rule runs identically in Spark and the SQL
    oracle.

    Scale shape: assignment is a narrow argmin projection (``ivf_assign`` —
    zero joins); the within-cluster prune groups each cluster's members
    into ONE id-sorted array (collect_list partial-aggregates map-side)
    and evaluates the lower-id-neighbor predicate IN-ARRAY — an element's
    verdict scans only the members before it, so the work is exactly the
    Σ(cluster size²)/2 pair dots the old equi-join form paid, with one
    exchange and a single lineage instead of a checkpoint + self-join +
    distinct + back-join (r10: four fewer exchanges, measured below; the
    adamic_adar in-array pattern). Per-group state is one cluster's
    vectors — bounded because the SemDeDup design premise (Abbas et al.
    §3: k ∝ corpus/1000) keeps clusters ~1000 vectors at ANY corpus
    size; a degenerate quantizer that dumps the corpus into one cell
    breaks the relational form just as surely (its pair count is the
    same Σ cluster²). With k ∝ corpus/1000 this is the shape SemDeDup
    ran at LAION-440M scale.

    Returns one row per input vector: (id, centroid_id, is_kept).
    """
    from server2_vector_search_server_spark.operators.ann import ivf_assign

    def _normalize(df, col_name, out):
        return df.select(
            *[c for c in df.columns if c != col_name],
            F.expr(l2_normalize_sql(f"`{col_name}`")).alias(out))

    # both sides normalized: assignment runs on the unit sphere, where
    # squared-L2 argmin == cosine argmax (the spherical k-means geometry)
    normalized = _normalize(vectors.select(id_col, vec_col), vec_col, "_nv")
    cent_normed = _normalize(
        centroids.select(centroid_id_col, centroid_vec_col),
        centroid_vec_col, centroid_vec_col)
    assigned = ivf_assign(normalized, cent_normed, vec_col="_nv",
                          id_col=id_col, centroid_id_col=centroid_id_col,
                          centroid_vec_col=centroid_vec_col)
    grouped = (assigned.groupBy(centroid_id_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("_id"),
                            F.col("_nv").alias("_nv")))).alias("_ms")))
    # member j is dropped iff some member before it in the id-sorted array
    # (exactly the lower ids — ids are unique) has cosine >= threshold;
    # same dot operand order as the old a-then-b join form
    verdicts = F.expr(
        f"transform(_ms, (m, j) -> named_struct('_id', m._id, '_dropped', "
        f"exists(slice(_ms, 1, j), a -> "
        f"round({dot_sql('a._nv', 'm._nv')}, 6) >= {float(threshold)!r}D)))")
    return (grouped.select(centroid_id_col,
                           F.explode(verdicts).alias("_v"))
            .select(F.col("_v._id").alias(id_col),
                    F.col(centroid_id_col),
                    (~F.col("_v._dropped")).alias("is_kept")))


def remove_boilerplate_lines(docs: DataFrame, *, text_col: str = "text",
                             id_col: str = "doc_id",
                             min_docs: int = 5) -> DataFrame:
    """Line-level deduplication across documents (the C4/CCNet boilerplate
    pass: drop any line that appears verbatim in >= ``min_docs`` distinct
    documents — headers, footers, cookie banners, nav chrome).

    Distributed shape (r11 bounded-state form): posexplode to
    (doc, line_no, line) — a narrow transform; the verdict pass groups by
    trimmed line key with ``count_distinct(doc)`` ONLY (partial-aggregable,
    O(1)-bounded state per key) and keeps just the boilerplate keys
    (``n_docs >= min_docs`` — by definition a small fraction of distinct
    lines); occurrences get their ``keep`` flag from a left join back on
    the key, and ONE more shuffle reassembles per doc, where kept/total
    counts fall out of the same aggregate. The r10 single-pass form
    instead rode every occurrence *including the line text* through a
    per-line-key ``collect_list`` — but boilerplate lines by definition
    appear in huge numbers of documents, so the hottest key built one
    aggregation group holding every occurrence: AQE cannot split a single
    aggregate group, and at web-crawl scale a cookie-banner line is a
    one-task OOM. Here every aggregate has bounded per-key state and the
    only fan-in is the JOIN probe side, which AQE skew-splitting handles
    (the verdict side has exactly one row per key). Cost: the line explode
    is evaluated twice (2 corpus scans, vs 6 in the pre-r10 three-branch
    form) — a narrow re-scan, not a shuffle. This pass removes ~30% of
    raw bytes at C4 scale (Raffel et al. 2020).

    Empty lines are dropped unconditionally. Returns one row per surviving
    document: (id, text, n_kept, n_removed).
    """
    lines = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("line_no", "line"))
        .filter(F.trim("line") != "")
        .withColumn("line_key", F.trim("line"))
    )
    boiler = (
        lines.groupBy("line_key")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_key", F.lit(False).alias("_keep"))
    )
    occ = (lines.join(boiler, "line_key", "left")
           .select(F.coalesce("_keep", F.lit(True)).alias("keep"),
                   F.col(id_col), "line_no", "line"))
    # collect_list skips NULLs, so when(keep, struct) collects exactly the
    # surviving lines while COUNT(*) still sees every occurrence
    return (
        occ.groupBy(id_col)
        .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("keep"),
                               F.struct("line_no", "line")))),
                    lambda s: s["line"]),
                "\n").alias(text_col),
             F.sum(F.col("keep").cast("long")).alias("n_kept"),
             F.count(F.lit(1)).alias("_n_total"))
        .filter(F.col("n_kept") > 0)
        .withColumn("n_removed", F.col("_n_total") - F.col("n_kept"))
        .drop("_n_total")
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup: new batch vs. an existing (huge) corpus.

BLOOM_BITS = 1 << 16       # m — filter size in bits (8 KiB serialized)
BLOOM_HASHES = 5           # k — probes per key


def bloom_positions(key: Column, *, n_bits: int = BLOOM_BITS,
                    n_hashes: int = BLOOM_HASHES) -> Column:
    """The k bit positions for ``key``: independently seeded xxhash64,
    reduced mod m. Pure column expressions (codegen'd), and shared by the
    build and probe sides so both compute bit-identical positions."""
    return F.array(*[
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_bits))
        for seed in range(n_hashes)])


def build_bloom(corpus: DataFrame, key_col: str, *,
                n_bits: int = BLOOM_BITS,
                n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Build a Bloom filter over ``corpus[key_col]`` as a ONE-ROW DataFrame
    ``(bloom_words: array<bigint>)`` of m/64 words.

    Distributed build: per-row positions -> explode -> groupBy word index
    with ``bit_or`` of the per-position masks. Partial aggregation collapses
    repeats executor-side, so at most m/64 (index, word) rows ever cross the
    wire or reach the driver — the corpus itself is scanned once and never
    shuffled. The filter rides to probes as a broadcast row (same transport
    pattern as ann.codebook_transport_sql), never as a giant literal.
    """
    n_words = (n_bits + 63) // 64
    rows = (
        corpus.select(F.explode(
            bloom_positions(F.col(key_col), n_bits=n_bits,
                            n_hashes=n_hashes)).alias("pos"))
        .groupBy(F.shiftright(F.col("pos"), 6).cast("int").alias("word_idx"))
        .agg(F.bit_or(F.expr(
            "shiftleft(cast(1 as bigint), cast(pos % 64 as int))"))
            .alias("word"))
        .collect())
    words = [0] * n_words
    for r in rows:
        words[r["word_idx"]] = r["word"]
    spark = corpus.sparkSession
    return spark.createDataFrame([(words,)], "bloom_words array<bigint>")


def bloom_might_contain(pos_col: str, words_col: str) -> Column:
    """True iff every one of the key's bit positions is set in the filter.
    A single SQL expression (forall + get + shifts) — whole-stage codegen,
    no UDF."""
    return F.expr(
        f"forall({pos_col}, p -> "
        f"(shiftrightunsigned(get({words_col}, cast(shiftright(p, 6) as "
        f"int)), cast(p % 64 as int)) & 1) = 1)")


def bloom_incremental_new_docs(batch: DataFrame, corpus: DataFrame, *,
                               key_col: str = "content_hash",
                               n_bits: int = BLOOM_BITS,
                               n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Incremental cross-corpus dedup: keep the rows of ``batch`` whose
    ``key_col`` does NOT already exist in ``corpus`` — the continuous-crawl
    shape (today's crawl vs. the 100 TB corpus already ingested), scaled by
    a Bloom filter so the corpus is not re-joined for the no-hit majority.

    Three stages, result EXACT (bloom errors are one-sided and verified):

      1. build: one corpus scan folds into an m-bit filter (m/64 longs —
         bounded, mergeable, broadcastable; see :func:`build_bloom`);
      2. probe: each batch row tests its k bits against the broadcast row —
         a map-side filter, no join, no shuffle. Bloom negatives are
         DEFINITELY new (no false negatives) and exit here: at a typical
         duplication rate the bulk of the batch never touches the corpus;
      3. verify: the surviving candidates (true dups + ~fpp false
         positives) are LEFT ANTI joined against the corpus keys — the only
         stage that shuffles corpus data, and it shuffles just the key
         column for a candidate set the bloom already shrank.

    This is the batched form of the reference's per-upload existence probe
    (vector_store.py:56-89) for the case where the "existing" side is far
    too large to broadcast — the same pattern Spark itself uses for runtime
    row-level filtering.
    """
    bloom = build_bloom(corpus.select(key_col), key_col,
                        n_bits=n_bits, n_hashes=n_hashes)
    probed = (
        batch.withColumn("_pos", bloom_positions(
            F.col(key_col), n_bits=n_bits, n_hashes=n_hashes))
        .join(F.broadcast(bloom))
        .withColumn("_maybe", bloom_might_contain("_pos", "bloom_words"))
        .drop("_pos", "bloom_words"))
    definite_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    candidates = probed.filter(F.col("_maybe")).drop("_maybe")
    verified_new = candidates.join(
        corpus.select(key_col).distinct(), key_col, "left_anti")
    return definite_new.unionByName(verified_new)


def tfidf_cosine_pairs(docs: DataFrame, *, min_cosine: float = 0.9,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """All-pairs SPARSE cosine similarity over TF-IDF document vectors via
    an inverted-index self-join (the classic DAAT all-pairs shape, cf.
    Bayardo et al. WWW'07 — public): postings (doc, term, weight) join
    postings on the term, per-pair dot products accumulate as exact
    micro-unit integers, norms fold per document, cosine thresholds on
    the ROUNDED value. Embedding-free near-dup detection: catches
    copy-edited documents whose word DISTRIBUTIONS survive even when
    shingle/minhash overlap is destroyed by reordering.

    Scale: the join shuffles sum(df(t)^2) candidate rows — the inherent
    DAAT bound. The valve is a document-frequency cap: a term in df_cap
    documents contributes df_cap^2 join rows, so at 100 TB you DROP
    postings above a df cut before the join (C4 drops stopwords for the
    same reason). Note the idf here is LINEAR (n_docs/df, no log), so
    high-df terms still carry weight >= tf*1 — dropping them is a
    recall/precision trade the caller makes explicitly, NOT a free
    optimization (with log idf it would be nearly free; linear idf is
    kept because it is integer-exact under micro-unit scaling). The
    prefix-filter sibling (``prefix_filter_jaccard_pairs``) is the
    exact-threshold alternative when weights are binary. Float determinism: weight
    products and squared weights are rounded to 1e-6 and summed as
    BIGINT (shuffle-order-proof); sqrt is IEEE-correctly-rounded on both
    engines.
    """
    from server2_vector_search_server_spark.functions.text import tokens

    n_docs = docs.count()
    terms = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.groupBy("term").agg(
        F.count_distinct(id_col).alias("df"))
    w = (tf.join(df_, "term")
         .select(F.col(id_col), F.col("term"),
                 (F.col("tf").cast("double")
                  * (F.lit(float(n_docs)) / F.col("df").cast("double")))
                 .alias("w")))
    norms = (w.groupBy(id_col)
             .agg(F.sqrt(F.sum(F.round(F.col("w") * F.col("w")
                                       * 1_000_000.0).cast("long"))
                         / 1_000_000.0).alias("nrm")))
    a, b = w.alias("a"), w.alias("b")
    dots = (a.join(b, (F.col("a.term") == F.col("b.term"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
            .agg(F.sum(F.round(F.col("a.w") * F.col("b.w")
                               * 1_000_000.0).cast("long"))
                 .alias("dot_micro")))
    na = norms.select(F.col(id_col).alias("doc_a"),
                      F.col("nrm").alias("norm_a"))
    nb = norms.select(F.col(id_col).alias("doc_b"),
                      F.col("nrm").alias("norm_b"))
    return (dots.join(na, "doc_a").join(nb, "doc_b")
            .withColumn("cosine", F.round(
                (F.col("dot_micro").cast("double") / 1_000_000.0)
                / (F.col("norm_a") * F.col("norm_b")), 6))
            .filter(F.col("cosine") >= min_cosine)
            .select("doc_a", "doc_b", "cosine"))


def cdc_chunks(docs: DataFrame, *, k: int = 4, divisor: int = 8,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking (the Rabin/gear-CDC family — LBFS,
    Muthitacharoen et al. SOSP'01, public — in its simple mod-rule form):
    a chunk boundary falls AFTER token j exactly when the rolling hash of
    the k-token window ending at j satisfies ``hash % divisor == 0``.
    Boundaries depend only on local content, so an insertion near the
    start of a document shifts ONE chunk and leaves every later boundary
    aligned — the property that makes chunk-level dedup robust to edits,
    where fixed-size chunking misaligns everything after the edit point.
    Expected chunk length ≈ ``divisor`` tokens.

    Because the boundary rule is per-position (no carried state, unlike
    min/max-size CDC variants), the whole split is pure column
    expressions over MATERIALIZED token/hash arrays — no shuffle, no
    Python, SQL-twin-checkable. At 100 TB this fuses into the scan and
    only (id, chunk digest) pairs leave it; the downstream dedup is one
    digest groupBy, identical in shape to ``exact_duplicate_groups`` but
    at sub-document granularity.

    Returns (id, chunk_index, chunk_text) with 1-based contiguous-range
    chunk indexes; empty documents yield no rows.
    """
    from server2_vector_search_server_spark.functions.text import (
        token_hash,
        token_windows,
        tokens,
    )

    d = (docs
         .withColumn("_toks", tokens(F.col(text_col)))
         .withColumn("_h", F.transform(
             token_windows(F.col(text_col), k), token_hash)))
    ends_w = F.when(F.size("_h") == 0, F.array().cast("array<int>")) \
        .otherwise(F.filter(
            F.sequence(F.lit(1), F.size("_h")),
            lambda p: F.element_at(F.col("_h"), p.cast("int"))
            % divisor == 0))
    full_ends = F.array_sort(F.array_distinct(F.concat(
        F.transform(ends_w, lambda p: (p + k - 1).cast("int")),
        F.array(F.size("_toks")))))
    d = d.withColumn("_ends", full_ends)

    def _chunk(m):
        start = F.when(m == 1, F.lit(1)).otherwise(
            F.element_at(F.col("_ends"), (m - 1).cast("int")) + 1)
        end = F.element_at(F.col("_ends"), m.cast("int"))
        return F.struct(
            m.cast("int").alias("chunk_index"),
            start.cast("int").alias("_start"), end.cast("int").alias("_end"),
            F.concat_ws(" ", F.slice(F.col("_toks"), start,
                                     end - start + 1)).alias("chunk_text"))

    chunks = F.filter(
        F.transform(F.sequence(F.lit(1), F.size("_ends")), _chunk),
        lambda c: c["_end"] >= c["_start"])
    return (d.select(id_col, F.explode(chunks).alias("c"))
            .select(id_col, F.col("c.chunk_index").alias("chunk_index"),
                    F.col("c.chunk_text").alias("chunk_text")))
