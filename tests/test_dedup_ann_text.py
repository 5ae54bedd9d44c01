"""Unit tests for dedup / ANN / text-analysis / multimodal operators beyond
the oracle-parity harness (which covers end-to-end equivalence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from server2_vector_search_server_spark.operators import (
    ann,
    dedup,
    multimodal,
    text_analysis as ta,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy dog again and once"),
        (4, "completely unrelated content about spark query engines here"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_groups(docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["keep_id"] == 1 and g["cluster_size"] == 2
    assert list(g["member_ids"]) == [1, 2]


def test_drop_exact_duplicates(docs):
    kept = {r["doc_id"] for r in dedup.drop_exact_duplicates(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_minhash_finds_near_dup_pair(docs):
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got                       # exact dup: est = 1.0
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert est[(1, 2)] == 1.0
    # near-dup 1-3 should collide in at least one band and score high
    assert (1, 3) in got
    # unrelated docs must not pair
    assert not any(4 in p for p in got)


def test_simhash_hamming(docs):
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got


def test_simhash_blocked_equals_brute_force(spark):
    # Manku segment blocking must return EXACTLY the all-pairs Hamming
    # result (pigeonhole recall 1.0, distinct kills multi-segment dups).
    # 40 short docs over a tiny vocabulary -> plenty of pairs at several
    # hamming distances, including >max_hamming ones that must be excluded.
    from pyspark.sql import functions as F
    words = ["red", "blue", "green", "fish", "bird", "tree"]
    rows = [(i, " ".join(words[(i + j) % len(words)]
                         for j in range(3 + i % 3)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_duplicates(
               docs, max_hamming=3).collect()}
    # independent brute force over the same fingerprints
    sh = {r["doc_id"]: r["sh"]
          for r in docs.select(
              "doc_id", dedup.simhash(F.col("text")).alias("sh")).collect()}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sh[a] ^ sh[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want and len(want) > 0


def test_simhash_segments_cover_all_bits(spark):
    # segments must partition the 32 fingerprint bits: reassembling the
    # segment values by their offsets reproduces the fingerprint
    from pyspark.sql import functions as F
    segs = dedup.simhash_segments(F.col("sh"), max_hamming=3)
    df = spark.createDataFrame(
        [(0xDEADBEEF,), (0x0,), (0xFFFFFFFF,), (0x12345678,)], "sh long")
    rows = df.select("sh", *[s.alias(f"s{i}")
                             for i, s in enumerate(segs)]).collect()
    base, rem = divmod(dedup.SIMHASH_BITS, 4)
    sizes = [base + (1 if i < rem else 0) for i in range(4)]
    for r in rows:
        acc, off = 0, 0
        for i, size in enumerate(sizes):
            acc |= r[f"s{i}"] << off
            off += size
        assert acc == r["sh"]


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_prefix_filter_exact_at_nonbinary_threshold(spark):
    """Non-binary threshold regression: at t=0.07, |A|=100 the IEEE double
    product 0.07*100 = 7.000000000000001 overshoots the exact 7, so a naive
    ceil shortens A's prefix from 94 to 93 tokens. This pair's ONLY prefix
    overlap is A's 94th-rarest token (93 unique df=1 words sort first), so
    the naive form silently drops a qualifying pair — violating the
    operator's documented no-false-negative guarantee (ADVICE r4)."""
    shared = [f"s{i:02d}" for i in range(7)]
    unique = [f"u{i:02d}" for i in range(93)]
    docs = spark.createDataFrame(
        [(1, " ".join(unique + shared)), (2, " ".join(shared))],
        "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.07).collect()}
    fast = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            dedup.prefix_filter_jaccard_pairs(
                docs, n=1, threshold=0.07).collect()}
    assert exact == fast == {(1, 2): 0.07}


def test_cosine_near_duplicates(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    pairs = dedup.cosine_near_duplicates(vecs, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_quality_classifier_learns_heuristic(spark, tables):
    """The distilled bag-of-words classifier must substantially agree with
    the quality heuristic it was trained on — the calibration bar a
    curation pipeline applies before trusting the cheap model."""
    from server2_vector_search_server_spark.operators import (
        text_analysis as ta,
    )

    docs = (tables["documents"].filter(F.col("doc_id") < 300)
            .select("doc_id", "text",
                    (ta.quality_score(F.col("text")) >= 0.8)
                    .cast("double").alias("label")))
    model = ta.train_quality_classifier(docs)
    scored = model.transform(docs).select("label", "prediction")
    n = scored.count()
    agree = scored.filter(F.col("label") == F.col("prediction")).count()
    assert n > 0 and agree / n >= 0.7, f"agreement {agree}/{n}"


def test_semantic_dedup_drops_planted_copies(tables):
    """SemDeDup contract: exact copies (cosine 1.0 with a lower-id original
    in the same cluster) are always dropped; every drop is justified by a
    kept-or-dropped lower-id neighbor in the SAME cluster (cross-cluster
    pairs are never compared — that's the SemDeDup approximation)."""
    emb = tables["embeddings"].filter(F.col("vec_id") < 100) \
        .select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + 20000).alias("vec_id"), "embedding"))
    centroids = (emb.filter(F.col("vec_id") < 4)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    out = dedup.semantic_dedup(corpus, centroids, threshold=0.95).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 2 * emb.count()
    for r in out:
        if r["vec_id"] >= 20000:
            # same vector => same cluster as its original => dropped
            assert not r["is_kept"], r
            assert by_id[r["vec_id"] - 20000]["centroid_id"] \
                == r["centroid_id"]


def test_hyperplane_recall_vs_exact(tables):
    """ANN returns a subset of the exact top-k containing the self-match."""
    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    hp = [r["embedding"] for r in
          emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()]
    from server2_vector_search_server_spark.operators.knn import knn_topk

    approx = ann.hyperplane_knn(emb, q, hp, k=5).collect()
    assert approx and approx[0]["vec_id"] == 42       # self-match found
    scores = [r["score"] for r in approx]
    assert scores == sorted(scores, reverse=True)
    # bucket-local scores agree with the exact scorer for the same ids
    exact = {r["vec_id"]: r["score"]
             for r in knn_topk(emb, q, k=emb.count(), threshold=None).collect()}
    for r in approx:
        assert r["score"] == exact[r["vec_id"]]


def test_ivf_assign_partitions_all_vectors(tables):
    emb = tables["embeddings"].limit(100)
    centroids = (tables["embeddings"].filter(F.col("vec_id") < 4)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    assigned = ann.ivf_assign(emb, centroids)
    assert assigned.count() == 100                      # exactly one cell each
    assert assigned.select("centroid_id").distinct().count() <= 4


def test_ivf_knn_batch_matches_single_query(tables, spark):
    """A batch of one query must return exactly the single-query IVF path's
    results (same probe cells, same scores, same tie-breaks)."""
    from pyspark.sql import Row

    emb = tables["embeddings"].filter(F.col("vec_id") < 300) \
        .select("vec_id", "label", "embedding")
    centroids = (emb.filter(F.col("vec_id") < 4)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    qvec = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    single = ann.ivf_knn(emb, centroids, qvec, k=5, nprobe=2) \
        .select("vec_id", "score").collect()
    queries = spark.createDataFrame(
        [Row(query_id=1, query_vec=qvec)])
    batch = ann.ivf_knn_batch(emb, centroids, queries, k=5, nprobe=2) \
        .select("vec_id", "score").collect()
    assert sorted((r["vec_id"], r["score"]) for r in batch) == \
        sorted((r["vec_id"], r["score"]) for r in single)


def test_mllib_brp_ann_runs(tables):
    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    out = ann.mllib_brp_ann(emb, q, k=3).collect()
    assert len(out) == 3
    assert out[0]["vec_id"] == 0                        # self-match first


def test_language_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it was the best of days"),
         (2, "el gato y la casa de la madre con un perro"),
         (3, "xyzzy plugh qwerty"),
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        ta.detect_language(F.col("text")).alias("lang"),
        ta.quality_score(F.col("text")).alias("q"),
        ta.token_count(F.col("text")).alias("n")).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "es"
    assert out[3]["lang"] == "und"
    assert out[4]["lang"] == "und" and out[4]["n"] == 0
    assert 0.0 <= out[3]["q"] <= 1.0


def test_multimodal_stub_pipeline(spark):
    media = spark.createDataFrame(
        [("img", b"\x89PNG fake bytes"), ("img", b"other image")],
        "modality string, content binary")
    media = multimodal.attach_media_metadata(media)
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 2
    for f in feats:
        assert 64 <= f["width"] <= 255 and 64 <= f["height"] <= 255
        assert 0.0 <= f["mean_luma"] <= 1.0
    # determinism
    again = multimodal.extract_image_features(
        multimodal.attach_media_metadata(spark.createDataFrame(
            [("img", b"\x89PNG fake bytes")], "modality string, content binary"))
    ).first()
    match = [f for f in feats if f["media_id"] == again["media_id"]][0]
    assert match["phash"] == again["phash"]


def test_video_frame_sampling_stub(spark):
    media = spark.createDataFrame(
        [("vid-1", b"x" * 300_000)], "media_id string, content binary")
    frames = multimodal.sample_video_frames(media).collect()
    assert len(frames) == 3                      # 3s fake duration → 3 frames
    assert [f["frame_index"] for f in frames] == [0, 1, 2]


def test_pil_decoder_stub_raises(spark):
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed")
    except ImportError:
        pass
    media = spark.createDataFrame(
        [("m", b"bytes")], "media_id string, content binary")
    with pytest.raises(NotImplementedError):
        multimodal.extract_image_features(media, decoder="pil")


def test_pil_decoder_real_library(spark):
    """Env-gated REAL-Pillow test (the E5-golden pattern): skipped in this
    container, runs the genuine decode wherever Pillow exists. A minimal
    valid 2x2 RGB PNG is built with stdlib zlib so no fixture file or
    network is needed; the fake-module injection test covers the same
    branch deterministically when Pillow is absent."""
    pytest.importorskip("PIL")
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # 2x2, 8-bit RGB
    raw = (b"\x00" + b"\xff\x00\x00" + b"\x00\xff\x00"   # row filters + px
           + b"\x00" + b"\x00\x00\xff" + b"\xff\xff\xff")
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    media = spark.createDataFrame(
        [("ok", bytearray(png)), ("junk", bytearray(b"not an image"))],
        "media_id string, content binary")
    rows = {r["media_id"]: r for r in
            multimodal.extract_image_features(media, decoder="pil").collect()}
    ok = rows["ok"]
    assert (ok["width"], ok["height"], ok["n_channels"]) == (2, 2, 3)
    assert 0.0 <= ok["mean_luma"] <= 1.0
    assert isinstance(ok["phash"], int)
    junk = rows["junk"]                      # quarantine row, not a failure
    assert junk["width"] is None and junk["phash"] is None


def test_wav_decoder_real_bytes(spark):
    """The stdlib WAV path decodes REAL bytes in this container (no import
    gate): mono features match hand-computed values, stereo features come
    from channel 0 only, and corrupt / unsupported-width blobs land in the
    null-feature quarantine row."""
    import math
    import struct

    from server2_vector_search_server_spark.operators.multimodal import (
        build_pcm16_wav,
        extract_audio_features,
    )

    mono = [100, -100, 200, -200, 0, 300]            # 3 sign transitions +1
    stereo = []                                       # ch0 = mono, ch1 = 7s
    for s in mono:
        stereo += [s, 7]
    media = spark.createDataFrame(
        [("mono", bytearray(build_pcm16_wav(mono, sample_rate=4000))),
         ("stereo", bytearray(build_pcm16_wav(stereo, sample_rate=4000,
                                              n_channels=2))),
         ("junk", bytearray(b"RIFFnotawave"))],
        "media_id string, content binary")
    rows = {r["media_id"]: r for r in
            extract_audio_features(media, decoder="wav").collect()}
    for key in ("mono", "stereo"):                    # identical ch0 features
        r = rows[key]
        assert r["sample_rate"] == 4000 and r["n_samples"] == 6
        sumsq = sum(s * s for s in mono)
        assert abs(r["rms"] - math.sqrt(sumsq / 6)) < 1e-12
        # transitions: 100>=0 -> -100<0, -100 -> 200, 200 -> -200, -200 -> 0
        assert r["zero_crossings"] == 4, r["zero_crossings"]
    assert rows["mono"]["n_channels"] == 1
    assert rows["stereo"]["n_channels"] == 2
    assert rows["junk"]["rms"] is None and rows["junk"]["n_samples"] is None


def test_bmp_decoder_real_bytes(spark):
    """The stdlib BMP path decodes REAL bytes: a hand-checkable 2x2 image
    round-trips through encode->decode (bottom-up rows + BGR + padding all
    exercised), a TOP-DOWN (negative height) variant of the same pixels
    decodes identically, and corrupt/truncated blobs quarantine."""
    import struct

    from server2_vector_search_server_spark.operators.multimodal import (
        build_bmp24,
        extract_image_features,
    )

    rows = [[(255, 0, 0), (0, 255, 0)],        # top row
            [(0, 0, 255), (10, 20, 30)]]       # bottom row
    blob = build_bmp24(rows)
    # top-down twin: negate height, store rows in top-first order
    td = bytearray(blob)
    struct.pack_into("<i", td, 22, -2)
    stride = 8                                  # 2 px * 3 B padded to 8
    body = blob[54:]
    td[54:] = body[stride:] + body[:stride]     # swap the two stored rows
    media = spark.createDataFrame(
        [("up", bytearray(blob)), ("down", bytearray(td)),
         ("junk", bytearray(b"BMnope")), ("png", bytearray(b"\x89PNG"))],
        "media_id string, content binary")
    out = {r["media_id"]: r for r in
           extract_image_features(media, decoder="bmp").collect()}
    lumas = [255, 255, 255, 60]                 # r+g+b per pixel, top-major
    total, n = sum(lumas), 4
    for key in ("up", "down"):                  # identical decoded pixels
        r = out[key]
        assert (r["width"], r["height"], r["n_channels"]) == (2, 2, 3)
        assert abs(r["mean_luma"] - total / (n * 765)) < 1e-15
        # 2x2 image: pixel (x, y) lands in block (y*8//2, x*8//2) =
        # (4y, 4x) — only 4 of the 64 blocks are populated; empty blocks
        # carry bit 0 (0*n > total*0 is false). Bit set iff the pixel's
        # luma*4 > total (exact cross-product form).
        want = 0
        for y in range(2):
            for x in range(2):
                if lumas[y * 2 + x] * n > total:
                    want |= 1 << ((y * 4) * 8 + x * 4)
        if want >= 1 << 63:
            want -= 1 << 64
        assert r["phash"] == want, (key, r["phash"], want)
    assert out["junk"]["width"] is None and out["png"]["phash"] is None


def test_gif_frame_parser_real_bytes(spark):
    """The stdlib GIF walk reads REAL container bytes: per-frame Graphic
    Control delays come back exactly, a local-color-table frame and an
    87a header still parse, and corrupt blobs contribute ZERO frame rows
    (quarantine) rather than failing the batch."""
    import struct

    from server2_vector_search_server_spark.operators.multimodal import (
        build_gif89a,
        parse_gif_frames,
        sample_video_frames,
    )

    blob = build_gif89a([10, 25, 7])
    w, h, delays = parse_gif_frames(blob)
    assert (w, h, delays) == (2, 2, [10, 25, 7])
    # variant coverage: 87a magic + a frame carrying a local color table
    v = bytearray(blob)
    v[:6] = b"GIF87a"
    first_desc = bytes(v).index(b"\x2c")
    lct = bytearray(v[:first_desc + 9])
    lct += bytes([0x80])                      # local color table flag, 2 colors
    lct += b"\x11\x22\x33\x44\x55\x66"        # the 2-entry LCT to skip
    lct += v[first_desc + 10:]                # rest unchanged
    w2, h2, delays2 = parse_gif_frames(bytes(lct))
    assert delays2 == [10, 25, 7]
    media = spark.createDataFrame(
        [("ok", bytearray(blob)), ("junk", bytearray(b"GIFXXnope"))],
        "media_id string, content binary")
    rows = (sample_video_frames(media, decoder="gif")
            .orderBy("media_id", "frame_index").collect())
    got = [(r["media_id"], r["frame_index"], r["frame_time_s"])
           for r in rows]
    assert got == [("ok", 0, 0.0), ("ok", 1, 0.10), ("ok", 2, 0.35)], got


def test_gif_frame_sampling_honors_interval(spark):
    """ADVICE r8: the GIF path must HONOR every_n_seconds, not silently
    ignore it — the first frame at/after each k·interval boundary is
    emitted with its true timestamp and original index, a long still
    frame emits once, and a non-positive interval raises."""
    import pytest

    from server2_vector_search_server_spark.operators.multimodal import (
        build_gif89a,
        sample_video_frames,
    )

    # frame times (cs): 0, 10, 35, 55, 255 — a 2 s still before the last
    media = spark.createDataFrame(
        [("ok", bytearray(build_gif89a([10, 25, 20, 200, 5])))],
        "media_id string, content binary")
    rows = (sample_video_frames(media, decoder="gif", every_n_seconds=0.3)
            .orderBy("frame_index").collect())
    got = [(r["frame_index"], r["frame_time_s"]) for r in rows]
    # boundaries at 0.0/0.3/0.6/...: frame0@0.0 hits 0.0; frame2@0.35
    # hits 0.3; frame3@0.55 misses (next boundary now 0.6); frame4@2.55
    # hits 0.6 and advances the boundary past 2.55 — emitted ONCE
    assert got == [(0, 0.0), (2, 0.35), (4, 2.55)], got
    with pytest.raises(ValueError):
        sample_video_frames(media, decoder="gif", every_n_seconds=0.0)


def test_ivf_kmeans_trainer(spark, tables):
    from server2_vector_search_server_spark.operators import ann

    emb = tables["embeddings"]
    cents = ann.ivf_train_kmeans(emb, n_centroids=4, max_iter=3)
    rows = cents.collect()
    assert len(rows) == 4
    assert sorted(r["centroid_id"] for r in rows) == [0, 1, 2, 3]
    dim = len(emb.first()["embedding"])
    assert all(len(r["centroid"]) == dim for r in rows)
    # deterministic across invocations (seeded)
    again = ann.ivf_train_kmeans(emb, n_centroids=4, max_iter=3).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
    # end-to-end: search over kmeans cells returns k rows with valid scores
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    out = ann.ivf_knn(emb, cents, q, k=5, nprobe=2).collect()
    assert len(out) == 5
    assert out[0]["score"] >= out[-1]["score"]


def test_ivf_index_partition_pruning(spark, tables, tmp_path):
    """The materialized IVF index prunes at the FILE level: the probe scan's
    physical plan carries a PartitionFilters entry on centroid_id and the
    result matches the unindexed ivf_knn exactly."""
    from server2_vector_search_server_spark.operators import ann

    emb = tables["embeddings"]
    centroids = (emb.filter(F.col("vec_id") < 8)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("embedding").alias("centroid")))
    path = str(tmp_path / "ivf_index")
    ann.write_ivf_index(emb, centroids, path)
    import os
    cells = [d for d in os.listdir(path) if d.startswith("centroid_id=")]
    assert len(cells) > 2          # corpus spread over multiple cells

    q = [float(x) for x in emb.filter(F.col("vec_id") == 3)
         .first()["embedding"]]
    indexed = ann.ivf_knn_indexed(spark, path, centroids, q, k=5, nprobe=2)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]

    direct = ann.ivf_knn(emb, centroids, q, k=5, nprobe=2)
    got = [(r["vec_id"], r["score"]) for r in indexed.collect()]
    want = [(r["vec_id"], r["score"]) for r in direct.collect()]
    assert got == want


def test_drop_minhash_keep_min(docs):
    """Pairs-free bucket-min dedup: in any LSH collision cluster the
    smallest id survives; non-colliding docs are untouched."""
    kept = {r["doc_id"]
            for r in dedup.drop_minhash_near_duplicates(docs).collect()}
    # 1-2 exact, 1-3 near: 1 is the representative; 4 and 5 are singletons
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept and 3 not in kept
    # survivors form a fixpoint: re-running removes nothing further
    redo = dedup.drop_minhash_near_duplicates(
        dedup.drop_minhash_near_duplicates(docs))
    assert {r["doc_id"] for r in redo.collect()} == kept


def test_exclusive_prefix_sum_matches_window(spark):
    """The two-pass range-partitioned prefix sum is bit-identical to the
    one-reducer window form (promised by the operator docstring)."""
    from pyspark.sql import Window

    rows = [(i * 7 % 101, (i * 13) % 9 + 1) for i in range(101)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    dist = ta.exclusive_prefix_sum(df, num_partitions=7)
    w = (Window.orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    win = df.withColumn(
        "tokens_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")))
    assert dist.exceptAll(win).count() == 0
    assert win.exceptAll(dist).count() == 0


def test_exclusive_prefix_sum_no_global_sort(spark):
    """The distributed plan must contain NO window over the DATA (a
    global-order window = one-reducer sort; a partitionBy(_pid) window =
    a second full-data hash exchange) — the local cumsum is a
    partition-local Arrow pass and the offsets arrive by broadcast.
    r10: the offsets' own exclusive cumsum IS a window, but over the
    bounded per-partition SUBTOTAL table (<= num_partitions rows, inside
    the broadcast build) — every Window node must reference _subtotal,
    none may touch the value column."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(3).cast("long").alias("n_tokens"))
    plan = ta.exclusive_prefix_sum(
        df, num_partitions=4)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert all("_subtotal" in ln for ln in win_lines), win_lines
    assert not any("n_tokens" in ln for ln in win_lines), win_lines
    assert "BroadcastHashJoin" in plan
    # no full-data shuffle after the (checkpointed) range exchange: any
    # hash exchange must be the offsets build's, keyed on _pid (rows
    # bounded by the partition count)
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert all("_pid" in ln.split("hashpartitioning", 1)[1][:24]
               for ln in hash_ex), hash_ex


def test_pack_sequences_budget_cut(spark):
    """Packing contract: sequences cut every `budget` tokens of the
    concatenated stream; doc joins the sequence of its first token."""
    rows = [(1, 300), (2, 300), (3, 300), (4, 50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["doc_id"]: r["seq_id"]
           for r in ta.pack_sequences(df, budget=512).collect()}
    # stream offsets: 0, 300, 600, 900 -> seqs 0, 0, 1, 1
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_pq_kmeans_codebooks_beat_slices(spark, tables):
    """Fitted PQ codebooks (per-subspace k-means) must not lose to the
    arbitrary corpus-slice books on the same fixture — the measurable
    payoff of training (measured 0.30 vs 0.14 mean recall@10 here)."""
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.plans.ann_queries import (
        pq_kmeans_recall_per_query,
    )

    r = load_registry()
    sf = "/root/testdata/sf0.001"
    km = (pq_kmeans_recall_per_query(spark, sf)
          .agg(F.avg("recall_at_10")).collect()[0][0])
    slices = (r["ann_pq_recall_at_k"].fn(spark, sf)
              .agg(F.avg("recall_at_10")).collect()[0][0])
    assert km >= slices, (km, slices)
    assert km >= 0.2


def test_sign_pack_popcount_matches_positive_count(tables):
    """Property: total popcount of the packed words == number of strictly
    positive elements, for every corpus vector."""
    emb = tables["embeddings"]
    packed = emb.select(
        "vec_id", "embedding", *ann.sign_pack_words("embedding", 64))
    pop = (F.bit_count(F.col("bq_word_0"))
           + F.bit_count(F.col("bq_word_1")))
    positives = F.size(F.filter("embedding", lambda x:
                                x.cast("double") > 0.0))
    bad = packed.filter(pop != positives).count()
    assert bad == 0


def test_binary_knn_works_without_label_column(tables):
    # ADVICE r3: binary_knn hardcoded the fixture's 'label' column and
    # threw on any corpus without it; it must accept a bare id/vec corpus
    # and carry arbitrary extra columns through
    emb = tables["embeddings"].select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    out = ann.binary_knn(emb, q, k=3).collect()
    assert out and out[0]["vec_id"] == 42
    assert set(out[0].asDict()) == {"vec_id", "hamming", "score"}
    extra = tables["embeddings"].withColumn("src", F.lit("corpus_a"))
    out2 = ann.binary_knn(extra, q, k=3).collect()
    assert out2[0]["src"] == "corpus_a" and out2[0]["label"] is not None
    # reserved output names must be refused loudly, not silently clobbered
    import pytest
    clash = tables["embeddings"].withColumn("score", F.lit(0.0))
    with pytest.raises(ValueError, match="collide"):
        ann.binary_knn(clash, q, k=3)


def test_binary_knn_self_match_and_exact_scores(tables):
    """The binary funnel finds the self-match (Hamming 0) and its exact
    rescore agrees with the brute-force scorer."""
    from server2_vector_search_server_spark.operators.knn import knn_topk

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    out = ann.binary_knn(emb, q, k=5).collect()
    assert out and out[0]["vec_id"] == 42 and out[0]["hamming"] == 0
    exact = {r["vec_id"]: r["score"]
             for r in knn_topk(emb, q, k=emb.count(),
                               threshold=None).collect()}
    for r in out:
        assert r["score"] == exact[r["vec_id"]]


def test_matryoshka_full_prefix_is_exact(tables):
    """Property: with prefix_dim == dim the 'approximate' ranking IS the
    exact ranking — the funnel's error comes only from truncation."""
    from server2_vector_search_server_spark.operators.knn import knn_topk

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    out = ann.matryoshka_knn(emb, q, k=5, prefix_dim=64,
                             candidates=5).collect()
    exact = knn_topk(emb, q, k=5, threshold=None).collect()
    assert [r["vec_id"] for r in out] == [r["vec_id"] for r in exact]
    for a, b in zip(out, exact):
        assert a["score"] == b["score"] == a["score_prefix"]


# --- exact-substring dedup (Lee et al. 2022 windowed form) -------------------

@pytest.fixture(scope="module")
def substr_docs(spark):
    shared = " ".join(f"s{i}" for i in range(10))       # 10 shared tokens
    gap_a = " ".join(f"a{i}" for i in range(12))        # unique filler
    gap_b = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, f"{shared} {gap_a} {shared}"),              # two shared regions
        (2, f"{gap_b} {shared}"),                       # one shared region
        (3, " ".join(f"c{i}" for i in range(30))),      # no overlap
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_pairs_planted(substr_docs):
    out = dedup.substring_duplicate_pairs(substr_docs, window_tokens=8)
    got = {(r["id_a"], r["id_b"]): r["shared_windows"] for r in out.collect()}
    # only (1,2) share the 10-token run; a 10-token run has 3 distinct
    # 8-token windows
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 3


def test_substring_pairs_matches_brute_force(substr_docs):
    """Property: pair (a,b) is emitted iff some exact 8-token window occurs
    in both texts — checked directly against Python string windows."""
    rows = {r["doc_id"]: r["text"] for r in substr_docs.collect()}

    def wins(t):
        toks = t.split()
        return {" ".join(toks[i:i + 8]) for i in range(len(toks) - 7)}

    expect = {(a, b)
              for a in rows for b in rows
              if a < b and wins(rows[a]) & wins(rows[b])}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.substring_duplicate_pairs(
               substr_docs, window_tokens=8).collect()}
    assert got == expect


def test_substring_spans_merge_and_gap(substr_docs):
    out = dedup.substring_duplicate_spans(substr_docs, window_tokens=8)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"]))
    # doc 1: shared run at tokens 1-10 and again at 23-32 — two islands,
    # each covering the full 10-token run (starts 1..3 ⇒ [1, 10])
    assert sorted(spans[1]) == [(1, 10, 10), (23, 32, 10)]
    # doc 2: one island at the tail (starts 13..15 ⇒ [13, 22])
    assert spans[2] == [(13, 22, 10)]
    # doc 3: nothing duplicated
    assert 3 not in spans


def test_substring_frequency_cap_drops_boilerplate(spark):
    """A window in MORE than max_doc_freq docs must not generate pairs
    (the boilerplate skew valve)."""
    boiler = " ".join(f"x{i}" for i in range(8))
    rows = [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g")
            for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.substring_duplicate_pairs(docs, window_tokens=8,
                                             max_doc_freq=4)
    assert capped.count() == 0          # boiler window is in 5 > 4 docs
    uncapped = dedup.substring_duplicate_pairs(docs, window_tokens=8,
                                               max_doc_freq=5)
    assert uncapped.count() == 10       # all C(5,2) pairs


# --- Gopher repetition rules -------------------------------------------------

def test_gopher_repetition_hand_computed(spark):
    """Metric values pinned by hand on a crafted doc:
    text: lines ['a b c d', 'a b c d', 'x y z w'] (12 tokens, 12 token
    chars, 24 line chars incl. spaces)."""
    df = spark.createDataFrame(
        [(1, "a b c d\na b c d\nx y z w")], "doc_id long, text string")
    r = ta.add_gopher_repetition(df).collect()[0]
    # two of three lines duplicated
    assert r["dup_line_frac"] == round(2 / 3, 6)
    # dup line chars = 7 + 7 of 7+7+7 total
    assert r["dup_line_char_frac"] == round(14 / 21, 6)
    # 2-grams: 'a b','b c','c d' twice + 'd a','d x' once + 'x y','y z',
    # 'z w' -> heaviest covers 2 occurrences x 2 chars = 4 of 12 token chars
    assert r["top_2gram_char_frac"] == round(4 / 12, 6)
    # 5-grams: 'a b c d a','b c d a b','c d a b c','d a b c d', 'a b c d x',
    # 'b c d x y', 'c d x y z', 'd x y z w' -- all distinct, no dups
    assert r["dup_5gram_char_frac"] == 0.0
    assert not r["rep_keep"]          # dup_line_frac 0.667 > 0.30


def test_gopher_repetition_clean_doc_keeps(spark):
    df = spark.createDataFrame(
        [(1, "\n".join(" ".join(f"t{i}_{j}" for j in range(10))
                       for i in range(5)))],
        "doc_id long, text string")
    r = ta.add_gopher_repetition(df).collect()[0]
    assert r["dup_line_frac"] == 0.0
    assert r["top_2gram_char_frac"] <= 0.20
    assert r["rep_keep"]


def test_substring_spans_intra_document_repetition(spark):
    """ExactSubstr criterion includes a paragraph repeated WITHIN one doc
    (code-review r4): the span form must flag it even with no cross-doc
    duplication; the pair form (cross-document by definition) must not
    pair anything."""
    para = " ".join(f"p{i}" for i in range(10))
    gap = " ".join(f"g{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, f"{para} {gap} {para}"),
         (2, " ".join(f"q{i}" for i in range(30)))],
        "doc_id long, text string")
    spans = dedup.substring_duplicate_spans(df, window_tokens=8).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans}
    assert got == {(1, 1, 10), (1, 23, 32)}
    assert dedup.substring_duplicate_pairs(df, window_tokens=8).count() == 0


def test_substring_spans_uncapped_boilerplate(spark):
    """The span form reports corpus-wide boilerplate the pair form's
    frequency cap drops (the documented contract)."""
    boiler = " ".join(f"x{i}" for i in range(8))
    rows = [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g")
            for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.substring_duplicate_pairs(docs, window_tokens=8,
                                            max_doc_freq=4)
    spans = dedup.substring_duplicate_spans(docs, window_tokens=8)
    assert pairs.count() == 0               # capped out of pairing
    assert spans.count() == 5               # but every doc's span reported


def test_pagerank_zero_iterations_returns_uniform(spark):
    from server2_vector_search_server_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    ranks = {r["node"]: r["pr"]
             for r in pagerank(edges, iterations=0).collect()}
    assert ranks == {1: round(1 / 3, 12), 2: round(1 / 3, 12),
                     3: round(1 / 3, 12)}


def test_gopher_repetition_preserves_caller_underscore_columns(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "keepme")],
        "doc_id long, text string, _source string")
    out = ta.add_gopher_repetition(df)
    assert "_source" in out.columns
    assert out.collect()[0]["_source"] == "keepme"


# ---------------------------------------------------------------------------
# bloom-filter incremental dedup


def test_bloom_build_bounded_and_probe_no_false_negatives(tables):
    docs = tables["documents"].select(
        "doc_id", F.md5("text").alias("content_hash"))
    corpus = docs.filter(F.col("doc_id") < 100)
    bloom = dedup.build_bloom(corpus, "content_hash")
    row = bloom.first()
    assert len(row["bloom_words"]) == dedup.BLOOM_BITS // 64
    # every corpus key must probe positive (no false negatives — the
    # property the exactness of the operator rests on)
    probed = (corpus
              .withColumn("_pos", dedup.bloom_positions(F.col("content_hash")))
              .join(F.broadcast(bloom))
              .withColumn("maybe", dedup.bloom_might_contain(
                  "_pos", "bloom_words")))
    assert probed.filter(~F.col("maybe")).count() == 0


def test_bloom_incremental_matches_plain_anti_join(tables):
    docs = tables["documents"].select(
        "doc_id", F.md5("text").alias("content_hash"))
    corpus = docs.filter(F.col("doc_id") < 300).select("content_hash")
    batch = (docs.filter(F.col("doc_id") >= 300)
             .unionByName(docs.filter(F.col("doc_id") < 40)
                          .withColumn("doc_id", F.col("doc_id") + 30000)))
    got = sorted(r["doc_id"] for r in
                 dedup.bloom_incremental_new_docs(batch, corpus).collect())
    expect = sorted(r["doc_id"] for r in batch.join(
        corpus.distinct(), "content_hash", "left_anti").collect())
    assert got == expect
    # the replayed rows are dups and must be gone; genuine rows survive
    assert all(i < 30000 for i in got)
    assert len(got) > 0


def test_bloom_probe_filters_most_nonmembers(spark):
    # 500 member keys, 2000 probe-only keys: with m=2^16 / k=5 the false
    # positive rate is well under 1%, so the verify join sees a tiny
    # candidate set — the property the 100 TB story rests on
    members = spark.range(500).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    bloom = dedup.build_bloom(members, "k")
    probes = spark.range(10_000, 12_000).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    n_fp = (probes
            .withColumn("_pos", dedup.bloom_positions(F.col("k")))
            .join(F.broadcast(bloom))
            .filter(dedup.bloom_might_contain("_pos", "bloom_words"))
            .count())
    assert n_fp <= 20  # <1% of 2000


def test_bpe_merge_respects_symbol_boundaries(spark):
    # 'e t' must merge only WHOLE adjacent symbols: not inside 'e th'
    # (prefix of a multi-char symbol), and repeated pairs merge greedily
    # left-to-right without overlap
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.plans.text_queries import (
        bpe_apply_merge,
    )

    rows = [("x e th",), ("g e t",), ("e t e t",), ("e t e",), ("th e t",)]
    df = spark.createDataFrame(rows, "w string")
    got = [r["w"] for r in
           df.select(bpe_apply_merge(F.col("w"), "e t").alias("w"))
           .collect()]
    assert got == ["x e th",   # boundary-guarded: no merge into 'th'
                   "g et",
                   "et et",    # both disjoint occurrences merge
                   "et e",     # greedy leftmost, no overlap
                   "th et"]


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_bpe_merge_matches_reference_on_random_symbol_strings(spark):
    # 200 seeded-random symbol strings x random pairs, all checked in ONE
    # Spark job against a Python reference of greedy leftmost
    # whole-symbol pair merging (the subword-nmt semantics)
    import random

    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.plans.text_queries import (
        bpe_apply_merge,
    )

    rng = random.Random(42)
    alphabet = ["a", "b", "ab", "ba", "aa", "th", "e", "t"]

    def reference(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return " ".join(out)

    cases = []
    for idx in range(200):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 10))]
        a, b = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((idx, " ".join(syms), a, b,
                      reference(syms, a, b)))
    df = spark.createDataFrame(
        cases, "idx int, w string, a string, b string, want string")
    # one pair per distinct (a,b): apply per-group via the same literal
    # path the trainer uses
    bad = []
    for (a, b), grp in __import__("itertools").groupby(
            sorted(cases, key=lambda c: (c[2], c[3])),
            key=lambda c: (c[2], c[3])):
        grp = list(grp)
        sub = df.filter((F.col("a") == a) & (F.col("b") == b))
        got = {r["idx"]: r["got"] for r in sub.select(
            "idx", bpe_apply_merge(F.col("w"), f"{a} {b}").alias("got"))
            .collect()}
        for idx, w, _, _, want in grp:
            if got[idx] != want:
                bad.append((w, f"{a} {b}", got[idx], want))
    assert not bad, bad[:5]


def test_phash_manku_blocking_boundaries(spark):
    """Pigeonhole contract of the 4-segment blocking: pairs within
    hamming ≤ 3 ALWAYS share a 16-bit segment (found), and a pair with
    exactly one flipped bit in EVERY segment (hamming 4) shares none —
    correctly excluded by both the blocking and the radius."""
    from server2_vector_search_server_spark.operators import multimodal

    base = 0x0123456789ABCDEF
    rows = [
        ("a", base),
        ("b", base ^ 0b111),                    # 3 flips, one segment
        ("c", base ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))),  # 4 segs
        ("d", base ^ ((1 << 5) | (1 << 21))),   # 2 flips, two segments
    ]
    feats = spark.createDataFrame(rows, "media_id string, phash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in multimodal.phash_near_duplicate_pairs(
               feats, max_hamming=3).collect()}
    assert got[("a", "b")] == 3
    assert got[("a", "d")] == 2
    # b ^ d = 5 bits -> over the radius even though they share segments
    assert ("b", "d") not in got
    assert not any("c" in p for p in got), got


def test_pca_projection_preserves_full_dim_distances(spark):
    """With out_dim == dim the PCA rotation is orthonormal, so pairwise
    squared-L2 in the rotated space equals the original to float
    tolerance — the property that makes the truncated funnel principled."""
    import numpy as np
    from server2_vector_search_server_spark.operators import ann
    from server2_vector_search_server_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings").limit(40)
    comps = ann.pca_components(emb, 64)
    pc = np.asarray(comps)
    assert pc.shape == (64, 64)
    assert np.abs(pc.T @ pc - np.eye(64)).max() < 1e-9
    rows = ann.pca_project(emb, comps, out_col="red") \
        .select("embedding", "red").collect()
    full = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    red = np.asarray([r["red"] for r in rows], dtype=np.float64)
    d_full = ((full[:1] - full) ** 2).sum(axis=1)
    d_red = ((red[:1] - red) ** 2).sum(axis=1)
    assert np.abs(d_full - d_red).max() < 1e-8


def test_pca_knn_self_hit_and_funnel_columns(spark):
    from server2_vector_search_server_spark.operators import ann
    from server2_vector_search_server_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    comps = ann.pca_components(emb, 16)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    out = ann.pca_knn(emb, qv, comps, k=5, candidates=25).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 7 and out[0]["score"] == 1.0
    assert "score_pca" in out[0].asDict() and "score" in out[0].asDict()


def test_winnowing_guarantee_shared_run_collides(spark):
    """The paper's no-false-negative guarantee: two documents sharing a
    token run of >= w+k-1 tokens must share at least one selected
    fingerprint VALUE, whatever surrounds the run."""
    from server2_vector_search_server_spark.operators import text_analysis as ta

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"   # 6 tokens = w+k-1
    docs = spark.createDataFrame(
        [(1, "one two " + shared + " three four five six"),
         (2, "seven eight nine ten " + shared + " eleven")],
        ["doc_id", "text"])
    out = (docs.withColumn("_h", ta.positional_kgram_hashes(
               F.col("text"), k=k))
           .select("doc_id", F.explode(ta.winnow_select(F.col("_h"), w=w))
                   .alias("s"))
           .select("doc_id", F.col("s.fp").alias("fp")).distinct())
    a = {r["fp"] for r in out.filter(F.col("doc_id") == 1).collect()}
    b = {r["fp"] for r in out.filter(F.col("doc_id") == 2).collect()}
    assert a & b, "shared >= w+k-1 token run must share a fingerprint"


def test_winnowing_rightmost_tie_and_short_doc(spark):
    from server2_vector_search_server_spark.operators import text_analysis as ta

    # identical k-grams everywhere -> every window's min is tied; the MOSS
    # rule selects the RIGHTMOST, so positions advance with the window
    docs = spark.createDataFrame(
        [(1, "x x x x x x x x"),        # 6 identical 3-gram windows
         (2, "a b"),                    # shorter than k -> no k-gram
         (3, "a b c d")],               # 2 windows < w -> one global window
        ["doc_id", "text"])
    out = (docs.withColumn("_h", ta.positional_kgram_hashes(
               F.col("text"), k=3))
           .select("doc_id", F.explode_outer(
               ta.winnow_select(F.col("_h"), w=4)).alias("s"))
           .select("doc_id", "s.pos", "s.fp"))
    rows = {d: [(r["pos"], r["fp"]) for r in out.filter(
        F.col("doc_id") == d).collect()] for d in (1, 2, 3)}
    # doc 1: hashes identical; windows [1..4],[2..5],[3..6] select pos 4,5,6
    assert [p for p, _ in rows[1]] == [4, 5, 6]
    assert rows[2] == [(None, None)]
    # doc 3: 2 windows, one global selection (rightmost min of both)
    assert len(rows[3]) == 1


def test_blocklist_phrase_positions_and_overlap(spark):
    from server2_vector_search_server_spark.operators import text_analysis as ta

    docs = spark.createDataFrame(
        [(1, "bad phrase here and bad phrase again"),
         (2, "clean text only"),
         (3, "bad bad bad")],   # overlapping unigram hits
        ["doc_id", "text"])
    out = ta.blocklist_matches(docs, ["bad", "bad phrase"]).collect()
    rows = sorted((r["doc_id"], r["pos"], r["term"]) for r in out)
    assert (1, 1, "bad") in rows and (1, 1, "bad phrase") in rows
    assert (1, 5, "bad phrase") in rows
    assert [r for r in rows if r[0] == 2] == []
    assert [(p, t) for d, p, t in rows if d == 3] == [
        (1, "bad"), (2, "bad"), (3, "bad")]


def test_cdc_chunks_prefix_edit_realigns(spark):
    """Content-defined boundaries recover after a prefix insertion: all
    chunks except the first are byte-identical across the edit."""
    from server2_vector_search_server_spark.operators import dedup

    body = ("a b c d e f g h i j k l m n o p q r s t u v w x y z "
            "one two three four")
    docs = spark.createDataFrame(
        [(1, body), (2, "XX YY " + body), (3, ""), (4, "a b")],
        ["doc_id", "text"])
    out = dedup.cdc_chunks(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_index"], r["chunk_text"]))
    c1 = [t for _, t in sorted(by_doc[1])]
    c2 = [t for _, t in sorted(by_doc[2])]
    assert len(c1) >= 3 and len(c2) == len(c1)
    assert c1[1:] == c2[1:]            # realigned after the edit
    assert c2[0] == "XX YY " + c1[0]   # only the first chunk differs
    assert "".join(t + " " for t in c1).strip() == body  # lossless split
    assert 3 not in by_doc             # empty doc -> no rows
    assert by_doc[4] == [(1, "a b")]   # short doc -> one chunk


def test_stupid_backoff_branches_on_crafted_corpus(spark, tmp_path):
    """The synthetic fixture corpus exercises the backoff branch exactly
    once at sf0.01 and the OOV branch never — so pin BOTH branches on a
    crafted corpus where every path fires, comparing the Spark query
    against its own DuckDB oracle on the same parquet (the full parity
    check, not a reimplementation)."""
    from server2_vector_search_server_spark.plans import load_registry
    from server2_vector_search_server_spark.plans.registry import (
        oracle_connection)

    # train bigrams: (a,b) (b,a) (a,b) (b,c) from doc 0, (c,c) (c,b) from
    # doc 1 — so for doc 300 "a b c a zzz": (a,b) seen, (b,c) seen,
    # (c,a) BACKOFF (unseen bigram, both unigrams trained), (a,zzz) OOV
    # (zzz never trained); doc 339 "b b": (b,b) BACKOFF
    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "c c b"),
         (300, "a b c a zzz"),
         (339, "b b")],
        "doc_id long, text string")
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "sf" / "documents.parquet"))
    reg = load_registry()
    rq = reg["text_stupid_backoff_scores"]
    got = rq.fn(spark, sf).toPandas().sort_values("doc_id",
                                                  ignore_index=True)
    con = oracle_connection(sf, ["documents"])
    want = con.execute(rq.oracle).df().sort_values("doc_id",
                                                   ignore_index=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist() == [300, 339]
    d300 = got.iloc[0]
    assert int(d300["n_bigrams"]) == 4
    assert int(d300["n_backoff"]) == 1          # (c, a): unseen bigram
    assert int(d300["n_oov"]) == 1              # (a, zzz): zzz unseen
    d339 = got.iloc[1]
    assert int(d339["n_backoff"]) == 1          # (b, b) never trained
    # the Spark result must equal the oracle on every column
    for col in got.columns:
        for i in range(len(got)):
            a, b = got[col].iloc[i], want[col].iloc[i]
            assert a == b or abs(float(a) - float(b)) < 1e-12, (col, a, b)


def test_facility_location_greedy_properties(spark):
    """Greedy facility-location: picks are distinct pool members, marginal
    gains are non-increasing (submodularity), coverage telescopes
    (coverage_r = coverage_{r-1} + gain_r), and a hand-checkable toy picks
    the two cluster exemplars before any redundant member."""
    from server2_vector_search_server_spark.operators.ann import (
        facility_location_select,
    )

    # two tight clusters on orthogonal axes + their perturbed members:
    # the best 2-cover is one exemplar per cluster, never two from one
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.98, 0.02, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.99, 0.01]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = facility_location_select(df, df, 3).collect()
    picked = [r["vec_id"] for r in out]
    assert len(set(picked)) == 3
    assert {picked[0], picked[1]} == {picked[0]} | {picked[1]}
    # one exemplar from each cluster in the first two picks
    assert ({picked[0], picked[1]} & {0, 1, 2}) and \
           ({picked[0], picked[1]} & {3, 4})
    gains = [r["gain_micro"] for r in out]
    assert gains == sorted(gains, reverse=True)
    cov = [r["coverage_micro"] for r in out]
    assert cov[0] == gains[0]
    for i in range(1, len(out)):
        assert cov[i] == cov[i - 1] + gains[i]
