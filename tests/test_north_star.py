"""Tests for the north-star extension operators (dedup, similarity, text,
multimodal) — semantics on small in-memory data; oracle cross-checks run
separately via scripts/check_oracle.py."""

import math

import pytest
from pyspark.sql import functions as F

from feast_ibm_spark.operators.dedup import (
    dedup_keep_latest,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash_col,
)
from feast_ibm_spark.operators.multimodal import (
    attach_media_columns,
    byte_features,
    decode_stub,
)
from feast_ibm_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
    near_dup_pairs,
)
from feast_ibm_spark.functions.text import (
    fingerprint_col,
    lang_id_col,
    token_count_col,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "el gato y el perro en la casa de la abuela"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(docs):
    out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert out[1] == 2 and 2 not in out and out[3] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_matches_exact(docs):
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert approx == exact


def test_simhash_similarity_structure(spark, docs):
    out = {r.doc_id: r.sh for r in
           docs.select("doc_id", simhash_col("text").alias("sh")).collect()}
    assert out[1] == out[2]  # identical text -> identical simhash
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space
    assert all(0 <= v < 2**32 for v in out.values())


def test_dedup_keep_latest(spark):
    from datetime import datetime as TS

    df = spark.createDataFrame(
        [(1, TS(2024, 1, 1), "old"), (1, TS(2024, 1, 2), "new"), (2, TS(2024, 1, 1), "x")],
        "k bigint, ts timestamp, v string",
    )
    got = {r.k: r.v for r in dedup_keep_latest(df, ["k"], "ts").collect()}
    assert got == {1: "new", 2: "x"}


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]), # close to 2
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_cosine_topk_ordering(vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in rows] == [1, 2] or rows[0].vec_id == 1
    assert rows[0].cosine == pytest.approx(
        0.9 / math.sqrt(0.81 + 0.01), rel=1e-12
    )
    # self-match excluded
    assert all(r.vec_id != 0 for r in rows)


def test_near_dup_pairs_threshold(vectors):
    pairs = {(r.id_a, r.id_b) for r in near_dup_pairs(vectors, threshold=0.9).collect()}
    assert (0, 1) in pairs and (2, 3) in pairs
    assert (0, 4) not in pairs  # cosine -1


def test_cosine_kernel_unrolled_bit_identical(spark):
    """The dim-guarded unrolled scoring kernel (r12 optimization) must be
    BIT-identical to the higher-order-function fold — same left-to-right
    double-addition order — and ragged rows must fall back to the fold."""
    import struct

    from feast_ibm_spark.operators.similarity import cosine_col

    rows = [
        (0, [0.1 * i + 0.07 for i in range(64)], [1.0 / (i + 3) for i in range(64)]),
        (1, [math.sin(i) for i in range(64)], [math.cos(i) * 0.3 for i in range(64)]),
        # ragged pair (len 5) exercises the fold fallback branch
        (2, [1.0, 2.0, 3.0, 4.0, 5.0], [0.5, 0.25, 0.125, 2.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "i bigint, a array<double>, b array<double>")
    got = df.select(
        "i",
        cosine_col(F.col("a"), F.col("b")).alias("fold"),
        cosine_col(F.col("a"), F.col("b"), dim=64).alias("guarded"),
    ).collect()
    for r in got:
        assert struct.pack("<d", r.fold) == struct.pack("<d", r.guarded), r.i


def test_kernel_dim_gate_by_input_bytes(spark, sf_dir, tmp_path):
    """The r13 unroll gate: small file-backed corpora score with the pure
    fold (kernel dim None), large or non-file-backed corpora keep the
    unrolled kernel (dim passed through). Both kernels are bit-identical
    (test above); the gate trades only per-run codegen constants."""
    from feast_ibm_spark.operators import similarity as sim
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # the test-scale embeddings file sits far below the 32 MiB crossover
    assert sim._kernel_dim(emb, 64) is None
    # ... but past the quadratic self-pair threshold the gate is per-shape
    assert sim._kernel_dim(emb, 64, threshold=1) == 64
    # non-file-backed frames (no inputFiles to size) keep the unroll —
    # the scale-safe default when the input size is unknowable; note a
    # DERIVED frame over a scan still resolves to the scan's files, so
    # the gate sees through projections/aggregates
    local = spark.createDataFrame(
        [(0, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    assert sim._kernel_dim(local, 64) == 64
    # dim=None always stays the fold
    assert sim._kernel_dim(emb, None) is None


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r.q_vec_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r.q_vec_id, r.vec_id) for r in lsh_cosine_topk(emb, q, k=5).collect()}
    # LSH returns a subset of the exact neighbors with decent recall
    assert len(approx & exact) >= int(0.6 * len(exact))


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from feast_ibm_spark.operators.similarity import ivf_cosine_topk
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r.q_vec_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}
    approx_df = ivf_cosine_topk(emb, q, k=5, n_cells=8, n_probe=3)
    approx = {(r.q_vec_id, r.vec_id) for r in approx_df.collect()}
    # IVF probes 3/8 cells; candidates it does return score identically
    assert len(approx & exact) >= int(0.5 * len(exact))
    # determinism: same call twice gives identical rows
    again = {(r.q_vec_id, r.vec_id) for r in ivf_cosine_topk(
        emb, q, k=5, n_cells=8, n_probe=3).collect()}
    assert approx == again


def test_text_functions(docs):
    row = docs.filter(F.col("doc_id") == 1).select(
        token_count_col("text").alias("n"),
        fingerprint_col("text").alias("fp"),
        lang_id_col("text").alias("lang"),
    ).first()
    assert row.n == 9
    assert 0 <= row.fp < 1_000_000_007
    assert row.lang == "en"
    es = docs.filter(F.col("doc_id") == 5).select(lang_id_col("text").alias("l")).first()
    assert es.l == "es"


def test_multimodal_byte_features(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id bigint, text string")
    media = attach_media_columns(df, "doc_id", F.encode(F.col("text"), "utf-8"),
                                 "image", "raw")
    assert media.columns == ["media_id", "payload", "media_type", "format", "n_bytes"]
    out = {r.media_id: r for r in byte_features(media).collect()}
    assert out[1].n_bytes == 3 and out[1].first_byte == 97 and out[1].last_byte == 99
    assert out[1].byte_sum_mod == 97 + 98 + 99
    assert out[2].n_bytes == 0 and out[2].first_byte == -1


def test_decode_images_real_png_and_bmp(spark):
    """Round 4: image decode is REAL for PNG/BMP (stdlib kernels run
    inside the mapInPandas stage); unsupported formats still raise at
    execution with the reason."""
    import numpy as np

    from feast_ibm_spark.functions.codecs import png_encode
    from feast_ibm_spark.operators.multimodal import decode_images

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, (4 + i, 6, 3), dtype=np.uint8) for i in (1, 2)}
    df = spark.createDataFrame(
        [(i, bytearray(png_encode(a))) for i, a in imgs.items()],
        "doc_id bigint, payload binary",
    )
    media = attach_media_columns(df, "doc_id", F.col("payload"), "image", "png")
    out = {r.media_id: r for r in decode_images(media).collect()}
    for i, a in imgs.items():
        assert (out[i].height, out[i].width, out[i].n_channels) == (4 + i, 6, 3)
        assert out[i].mean_pixel == pytest.approx(float(a.mean()), abs=0)

    bad = attach_media_columns(
        spark.createDataFrame([(9, bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 16))],
                              "doc_id bigint, payload binary"),
        "doc_id", F.col("payload"), "image", "jpeg")
    with pytest.raises(Exception, match="PIL|Unsupported|format"):
        decode_images(bad).collect()


def test_resize_images_real_roundtrip(spark):
    """Resize decodes, nearest-neighbor samples, and re-encodes PNG; the
    output payload must decode back to the sampled pixels."""
    import numpy as np

    from feast_ibm_spark.functions.codecs import png_decode, png_encode
    from feast_ibm_spark.operators.multimodal import resize_images

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(img)))], "doc_id bigint, payload binary")
    media = attach_media_columns(df, "doc_id", F.col("payload"), "image", "png")
    row = resize_images(media, width=4, height=4).first()
    assert row.format == "png" and row.n_bytes == len(row.payload)
    got = png_decode(bytes(row.payload))
    idx = (np.arange(4) * 8 // 4).clip(0, 7)
    assert np.array_equal(got, img[np.ix_(idx, idx)])


def test_audio_features_real_wav(spark):
    """PCM WAV decode end-to-end through the Arrow stage: a pure sine has
    a known RMS (1/sqrt(2) of peak) and 2*f*t zero crossings."""
    import numpy as np

    from feast_ibm_spark.functions.codecs import wav_encode
    from feast_ibm_spark.operators.multimodal import audio_features

    sr, n = 8000, 8000  # 1 second
    t = np.arange(n) / sr
    sine = (np.sin(2 * np.pi * 440 * t) * 30000).astype(np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(wav_encode(sine, sr)))], "doc_id bigint, payload binary")
    media = attach_media_columns(df, "doc_id", F.col("payload"), "audio", "wav")
    row = audio_features(media).first()
    assert (row.sample_rate, row.n_channels, row.n_frames) == (sr, 1, n)
    assert row.duration_s == pytest.approx(1.0)
    assert row.rms == pytest.approx((30000 / 32768.0) / np.sqrt(2), rel=1e-3)
    assert abs(row.zero_crossings - 2 * 440) <= 2


def test_frame_sample_still_stub_without_ffmpeg(spark):
    from feast_ibm_spark.operators.multimodal import frame_sample_stub

    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    media = attach_media_columns(df, "doc_id", F.encode(F.col("text"), "utf-8"),
                                 "video", "mp4")
    stub = frame_sample_stub(media)  # plan construction must succeed
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg|PyAV"):
        stub.collect()


def test_simhash_near_dup_pairs_blocking(spark):
    from feast_ibm_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different text with nothing shared at all here now"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0  # identical text -> identical simhash
    assert (1, 3) not in pairs or pairs[(1, 3)] > 0


def test_simhash_near_dup_pairs_validates_params(spark):
    import pytest as _pytest

    from feast_ibm_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, max_hamming=4, n_blocks=4)
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, oversize="explode")


TEMPLATE = ("permission is hereby granted free of charge to any person "
            "obtaining a copy of this software and associated documentation "
            "files to deal in the software without restriction")


def _flood_docs(spark, n_copies):
    """n_copies exact copies of one boilerplate template (ids 0..n-1)
    plus two organic docs (ids n, n+1) that land in small buckets."""
    flood = spark.range(n_copies).select(
        F.col("id").alias("doc_id"), F.lit(TEMPLATE).alias("text")
    )
    organic = spark.createDataFrame(
        [(n_copies, "the quick brown fox jumps over the lazy dog today"),
         (n_copies + 1, "completely different content about spark engines")],
        "doc_id bigint, text string",
    )
    return flood.unionByName(organic)


def test_minhash_hot_bucket_star_flood(spark):
    """10^4 copies of one template: without the guard the bucket join
    emits ~5*10^7 candidates; with it, the flood contributes exactly the
    spanning star (c-1 verified pairs) and stays linear."""
    docs = _flood_docs(spark, 10_000)
    pairs = minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=100)
    rows = pairs.collect()
    assert len(rows) == 9_999
    assert all(r.doc_a == 0 and r.jaccard == 1.0 for r in rows)
    # connected-components over the star still sees ONE flood cluster
    from feast_ibm_spark.operators.dedup import dedup_clusters

    labels = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert len(labels) == 10_000 and set(labels.values()) == {0}


def test_minhash_hot_bucket_drop(spark):
    docs = _flood_docs(spark, 500)
    pairs = minhash_lsh_pairs(
        docs, threshold=0.8, max_bucket_size=50, oversize="drop"
    )
    assert pairs.count() == 0  # flood dropped; organic docs aren't dups


def test_minhash_cap_noop_on_organic(docs):
    """Default cap far above organic bucket sizes -> output unchanged."""
    capped = {(r.doc_a, r.doc_b, r.jaccard)
              for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    uncapped = {(r.doc_a, r.doc_b, r.jaccard)
                for r in minhash_lsh_pairs(
                    docs, threshold=0.5, max_bucket_size=None).collect()}
    assert capped == uncapped

    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, oversize="subsample")


def test_simhash_hot_block_star_flood(spark):
    from feast_ibm_spark.operators.dedup import simhash_near_dup_pairs

    docs = _flood_docs(spark, 2_000)
    pairs = simhash_near_dup_pairs(docs, max_hamming=3, max_block_size=100)
    rows = pairs.collect()
    flood_rows = [r for r in rows if r.doc_a == 0 and r.doc_b < 2_000]
    assert len(flood_rows) == 1_999
    assert all(r.hamming == 0 for r in flood_rows)
    # drop path: the flooded blocks contribute nothing
    dropped = simhash_near_dup_pairs(
        docs, max_hamming=3, max_block_size=100, oversize="drop"
    )
    assert not any(
        r.doc_a < 2_000 and r.doc_b < 2_000 for r in dropped.collect()
    )


def test_simhash_cap_noop_when_under(spark):
    from feast_ibm_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different text with nothing shared at all here now"),
        ],
        "doc_id bigint, text string",
    )
    capped = {(r.doc_a, r.doc_b, r.hamming)
              for r in simhash_near_dup_pairs(
                  docs, max_block_size=1000).collect()}
    uncapped = {(r.doc_a, r.doc_b, r.hamming)
                for r in simhash_near_dup_pairs(docs).collect()}
    assert capped == uncapped


def test_near_dup_pairs_lsh_recall(spark, sf_dir):
    from feast_ibm_spark.operators.similarity import near_dup_pairs_lsh
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine
             for r in near_dup_pairs(emb, threshold=0.4).collect()}
    approx = {(r.id_a, r.id_b): r.cosine
              for r in near_dup_pairs_lsh(emb, threshold=0.4).collect()}
    assert set(approx) <= set(exact)  # no false positives (exact verify)
    assert len(approx) >= int(0.7 * len(exact))  # decent recall
    for pair, cos in approx.items():
        assert cos == exact[pair]  # bit-identical scoring kernel


def test_lsh_auto_config_resolution():
    """The round-6 scale-safety rule: at or below AUTO_MIN_ROWS the auto
    config must be EXACTLY the historical oracle-pinned (4, 16, uncapped)
    shape (both gate scales are far below the threshold); above it planes
    grow with log2(n) so expected bucket size stays ~constant, a work cap
    engages, and the table budget is respected. Recall estimates must be
    honest: >=0.95 where the threshold affords it, degraded-and-reported
    where sign-LSH fundamentally can't be sparse + high-recall."""
    from feast_ibm_spark.operators.similarity import (
        AUTO_MAX_TABLES,
        AUTO_MIN_ROWS,
        lsh_auto_config,
    )

    for n in (500, 2000, AUTO_MIN_ROWS):
        assert lsh_auto_config(n, 0.4)[:3] == (4, 16, None)
    # 20k vectors = the measured round-5 blowup point: planes must widen
    planes, tables, cap, est = lsh_auto_config(20_000, 0.4)
    assert planes == 9 and tables == AUTO_MAX_TABLES and cap == 512
    assert 0.5 < est < 0.8  # degraded recall REPORTED, not hidden
    # high threshold at the same size: recall target met within budget
    p7, t7, _, est7 = lsh_auto_config(20_000, 0.7)
    assert est7 >= 0.95 and t7 <= AUTO_MAX_TABLES
    # planes monotone in corpus size, clamped
    assert lsh_auto_config(10**9, 0.9)[0] == 24


def test_near_dup_lsh_auto_matches_pinned_at_gate_scale(spark, sf_dir):
    """Default ('auto') arguments must be byte-identical to the explicit
    historical (4, 16, uncapped) config at gate scale — the driver oracle
    pins that exact shape."""
    from feast_ibm_spark.operators.similarity import near_dup_pairs_lsh
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    auto = {(r.id_a, r.id_b): r.cosine
            for r in near_dup_pairs_lsh(emb, threshold=0.4).collect()}
    pinned = {(r.id_a, r.id_b): r.cosine
              for r in near_dup_pairs_lsh(
                  emb, threshold=0.4, n_planes=4, n_tables=16,
                  max_bucket_size=None).collect()}
    assert auto == pinned and len(auto) > 0


def test_near_dup_lsh_auto_scaled_recall(spark):
    """Recall-vs-unguarded extended to the AUTO-SCALED config (verdict r5
    item 3): on a corpus synthesized above AUTO_MIN_ROWS with planted
    near-dup pairs, the auto config must (a) terminate with default
    args, (b) emit only exact-verified pairs, (c) find a solid majority
    of the planted high-cosine pairs — the regime auto-scaling targets."""
    import numpy as np

    from feast_ibm_spark.operators.similarity import (
        lsh_auto_config,
        near_dup_pairs_lsh,
    )

    rng = np.random.default_rng(7)
    n_base = 2_600  # 5200 vectors total > AUTO_MIN_ROWS
    base = rng.normal(size=(n_base, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # each planted twin: tiny perturbation -> cosine ~0.995
    twin = base + 0.05 * rng.normal(size=(n_base, 64))
    twin /= np.linalg.norm(twin, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(n_base)] + [
        (n_base + i, twin[i].tolist()) for i in range(n_base)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    planes, tables, cap, est = lsh_auto_config(2 * n_base, 0.9)
    assert planes > 4 and cap is not None  # auto actually engaged
    got = near_dup_pairs_lsh(emb, threshold=0.9).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    planted = {(i, n_base + i) for i in range(n_base)}
    found = len(pairs & planted)
    # est is the per-pair collision bound; allow slack for the cap
    assert found >= 0.8 * est * n_base
    for r in got:  # every emitted pair is exact-verified
        assert r.cosine >= 0.9


def test_ivf_with_trained_centroids(spark, sf_dir):
    """k-means||-trained cells should give recall at least as good as the
    seed-vector cells at the same n_probe budget."""
    from feast_ibm_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r.q_vec_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}

    cents = train_ivf_centroids(emb, n_cells=8, seed=42)
    assert len(cents) == 8 and len(cents[0]) == 64
    trained = {(r.q_vec_id, r.vec_id) for r in ivf_cosine_topk(
        emb, q, k=5, n_probe=3, centroids=cents).collect()}
    assert len(trained & exact) >= int(0.5 * len(exact))
    # deterministic: same seed -> same centroids -> same result
    cents2 = train_ivf_centroids(emb, n_cells=8, seed=42)
    assert cents == cents2


def test_resize_stub_alias_is_real_now(spark):
    """The pre-round-4 stub name still exists but routes to the real
    resize kernel — schema unchanged, no NotImplementedError."""
    import numpy as np

    from feast_ibm_spark.functions.codecs import png_encode
    from feast_ibm_spark.operators.multimodal import resize_stub

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(img)))], "doc_id bigint, payload binary")
    media = attach_media_columns(df, "doc_id", F.col("payload"), "image", "png")
    out = resize_stub(media, width=2, height=2)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "payload", "media_type", "format", "n_bytes"]
    assert out.count() == 1


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_shingle_freq drops join evidence carried by ubiquitous
    shingles: a pair overlapping ONLY through a boilerplate footer
    disappears under the cap, while genuinely similar pairs survive."""
    footer = "this document is confidential do not distribute"
    rows = [(i, f"unique body {i} alpha beta gamma {footer}") for i in range(1, 7)]
    rows += [(7, "the quick brown fox jumps over the lazy dog tonight"),
             (8, "the quick brown fox jumps over the lazy dog today")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {(r.doc_a, r.doc_b)
                for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in ngram_jaccard_pairs(
                  docs, threshold=0.4, max_shingle_freq=3).collect()}
    # footer-only pairs exist uncapped, vanish capped
    assert any(a <= 6 and b <= 6 for a, b in uncapped)
    assert not any(a <= 6 and b <= 6 for a, b in capped)
    # the genuinely similar pair survives both
    assert (7, 8) in uncapped and (7, 8) in capped


def test_prefix_jaccard_equals_brute(spark):
    """Prefix filtering is EXACT: pair-for-pair, value-for-value equal to
    the inverted-index brute tier at every threshold — including on a
    boilerplate-heavy corpus where every document shares a hot footer.
    The brute self-join pays sum(c^2) on those footer shingles; the
    prefix tier sorts them to the back of every document (highest df)
    so they never enter the candidate join, with zero recall loss."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    footer = "common footer shared by every single document here"
    rows = []
    for i in range(60):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 25)))
        rows.append((i, f"{body} {footer}"))
    for i in range(60, 75):  # genuine near-dups: clones +/- a small edit
        src = rows[i - 60][1]
        rows.append((i, src + " tail" if i % 2 else src))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    for thr in (0.3, 0.5, 0.8):
        brute = {(r.doc_a, r.doc_b): r.jaccard
                 for r in ngram_jaccard_pairs(docs, threshold=thr).collect()}
        pref = {(r.doc_a, r.doc_b): r.jaccard
                for r in prefix_jaccard_pairs(docs, threshold=thr).collect()}
        assert brute, f"degenerate fixture at threshold {thr}"
        assert pref == brute  # identical pairs AND identical float values


def test_curation_lsh_tier_matches_exact_tier(spark, sf_dir):
    """corpus_curation_lsh (MinHash-LSH near-dup stage) must keep the same
    survivor set as the exact inverted-index tier on the test corpus —
    recall at J>=0.5 with k=32/b=16/r=2 is ~0.99, and on this corpus the
    agreement is exact (same full DuckDB oracle gates both)."""
    from feast_ibm_spark.queries import q_corpus_curation, q_corpus_curation_lsh

    exact = {r["doc_id"] for r in q_corpus_curation(spark, sf_dir).collect()}
    lsh = {r["doc_id"] for r in q_corpus_curation_lsh(spark, sf_dir).collect()}
    assert exact == lsh


def test_curation_auto_tier_picks_by_input_bytes(spark, sf_dir):
    """tier='auto' must flip on the lsh_min_bytes threshold (decided from
    file metadata, no scan) and both forced outcomes keep the oracle's
    survivor set."""
    from feast_ibm_spark.operators.curation import curate_corpus, input_size_bytes
    from feast_ibm_spark.queries import (
        CURATION_QUALITY_FLOOR, JACCARD_THRESHOLD, NGRAM_N,
    )
    from feast_ibm_spark.sources.reader import load_table

    docs = load_table(spark, sf_dir, "documents")
    size = input_size_bytes(docs)
    assert size is not None and size > 0

    def run(**kw):
        return {
            r["doc_id"]
            for r in curate_corpus(
                docs, quality_floor=CURATION_QUALITY_FLOOR, ngram_n=NGRAM_N,
                jaccard_threshold=JACCARD_THRESHOLD, **kw,
            ).collect()
        }

    # threshold above the corpus size -> exact; below -> LSH; same survivors
    as_exact = run(tier="auto", lsh_min_bytes=size + 1)
    as_lsh = run(tier="auto", lsh_min_bytes=1)
    assert as_exact == run(tier="exact")
    assert as_lsh == run(tier="lsh")
    assert as_exact == as_lsh


def test_curation_exact_substr_stage(spark):
    """The ExactSubstr cut as a curation stage (exact dedup → cut →
    quality → near-dup): stage order is load-bearing and pinned here.

    - exact twins must be deduped BEFORE the cut (cut-first would see
      every gram of a twinned doc as duplicated and erase both to
      empty) — the surviving twin keeps its FULL text;
    - a short doc fully quoted inside a longer one cuts to empty and is
      DROPPED (zero novel text — the containment shape);
    - the long doc survives with statistics computed on its CUT text."""
    from feast_ibm_spark.operators.curation import curate_corpus
    from feast_ibm_spark.operators.exact_substr import cut_duplicated_spans

    twin = "the quick brown fox jumps over the lazy dog"
    long_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    quoted = "gamma delta epsilon"
    df = spark.createDataFrame(
        [(0, twin), (1, twin), (2, long_doc), (3, quoted)],
        "doc_id long, text string",
    )

    def ids(**kw):
        return {
            r["doc_id"]: r["n_tokens"]
            for r in curate_corpus(
                df, quality_floor=0.0, ngram_n=3,
                jaccard_threshold=0.99, tier="exact", **kw,
            ).collect()
        }

    base = ids()
    assert set(base) == {0, 2, 3}  # no cut stage: everything survives

    got = ids(exact_substr_min_len=8)
    assert set(got) == {0, 2}
    # the surviving twin kept its FULL text (dedup ran before the cut)
    assert got[0] == len(twin.split())
    # doc 2's token count reflects the CUT text, reproduced independently
    deduped = df.filter("doc_id != 1")
    cut2 = {
        r.doc_id: r.text
        for r in cut_duplicated_spans(deduped, min_len=8).collect()
    }
    assert cut2[3].strip() == ""  # fully covered → dropped by the stage
    assert got[2] == len(cut2[2].split())
    assert 0 < got[2] < len(long_doc.split())


def test_curation_exact_substr_stage_noop_below_min_len(spark):
    """When no document reaches min_len the cut stage must be a pure
    pass-through: same survivors, same token counts as without it (the
    sequence(1, n<1) descending-range hazard and the empty-span left
    join both sit on this path)."""
    from feast_ibm_spark.operators.curation import curate_corpus

    df = spark.createDataFrame(
        [(0, "short one"), (1, "short two"), (2, "short one")],
        "doc_id long, text string",
    )

    def run(**kw):
        return sorted(
            (r["doc_id"], r["n_tokens"])
            for r in curate_corpus(
                df, quality_floor=0.0, ngram_n=3,
                jaccard_threshold=0.99, tier="exact", **kw,
            ).collect()
        )

    assert run(exact_substr_min_len=40) == run()


def test_curation_auto_threshold_is_measurement_backed():
    """DEFAULT_LSH_MIN_BYTES is not a free constant: it must sit strictly
    between the two MEASURED operating points (exact tier wins at ~5 MB
    of input text, loses ~4x at ~50 MB — scripts/sf1_smoke.py runs
    recorded in NOTES.md), and the NOTES record backing it must exist so
    the constant cannot drift without re-measuring. Err-toward-LSH is
    deliberate: LSH is the tier that stays viable as inputs grow, so the
    threshold sits at the geometric split of the bracket, below its
    arithmetic midpoint."""
    import os
    import re

    from feast_ibm_spark.operators.curation import DEFAULT_LSH_MIN_BYTES

    exact_wins_bytes = 5 << 20   # sf0.1 corpus: exact 0.6s vs LSH 1.1s
    lsh_wins_bytes = 50 << 20    # 10x corpus: exact 19.2s vs LSH 5.0s
    assert exact_wins_bytes < DEFAULT_LSH_MIN_BYTES < lsh_wins_bytes
    # geometric split of the measured bracket (~15.8 MiB) — the constant
    # is that split rounded to a power of two, biased toward LSH
    geo = (exact_wins_bytes * lsh_wins_bytes) ** 0.5
    assert abs(DEFAULT_LSH_MIN_BYTES - geo) / geo < 0.25
    assert DEFAULT_LSH_MIN_BYTES < (exact_wins_bytes + lsh_wins_bytes) / 2
    notes = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "NOTES.md")
    ).read()
    # the measured crossover record the constant is derived from
    assert re.search(r"19\.2\s*(s;|vs)", notes) and "5.0s" in notes, (
        "NOTES.md lost the curation-tier crossover measurement "
        "(exact 19.2s vs LSH 5.0s at the 10x corpus)"
    )


def test_input_size_bytes_one_listing_per_directory(spark, tmp_path, monkeypatch):
    """The FS metadata probe must issue ONE directory listing per parent
    dir, never one RPC per file (10^6 objects at 100 TB), and the total
    must match the on-disk bytes of exactly the input part-files."""
    import os

    from feast_ibm_spark.operators import spread as curation

    out = str(tmp_path / "multi")
    spark.range(1000).repartition(8).write.parquet(out)
    df = spark.read.parquet(out)
    n_files = len(df.inputFiles())
    assert n_files >= 8

    calls = []
    real = curation._dir_file_sizes

    def counting(sc, directory):
        calls.append(directory)
        return real(sc, directory)

    monkeypatch.setattr(curation, "_dir_file_sizes", counting)
    got = curation.input_size_bytes(df)
    assert len(calls) == 1, f"expected 1 listing, saw {len(calls)}: {calls}"

    expect = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    assert got == expect > 0

    # non-file-backed frames still answer None
    assert curation.input_size_bytes(spark.range(3)) is None


def test_spread_for_udf_skips_shuffle_when_scan_out_splits_cores(
    spark, tmp_path
):
    """The UDF-spread helper (round 12, operators/spread.py) must keep
    the all-cores repartition for under-split inputs (the small-file
    case every bench table hits) and SKIP the shuffle when the scan's
    own split count already meets the core count — at 100 TB the
    unconditional repartition was a full payload shuffle that REDUCED
    parallelism to the core count."""
    from feast_ibm_spark.operators.spread import spread_for_udf

    out = str(tmp_path / "spreadsrc")
    spark.range(20_000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)

    def has_repartition(d):
        return "epartition" in d._jdf.queryExecution().analyzed().toString()

    # small file, default 128 MB splits: scan is 1 split < cores -> spread
    assert has_repartition(spread_for_udf(df, "id"))
    # same bytes, 8 KB splits: scan out-splits cores -> no shuffle added
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
        assert not has_repartition(spread_for_udf(df, "id"))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # derived frames keep the historical spread (partitioning unknown)
    assert has_repartition(spread_for_udf(spark.range(3)))
    # row content is untouched either way
    assert spread_for_udf(df, "id").count() == 20_000


def test_dedup_clusters_chain_topology(spark):
    """Min-label propagation must converge on a chain (diameter 4 —
    forces multiple iterations, unlike the quasi-clique corpus clusters)
    and on disjoint components."""
    from feast_ibm_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),   # chain: cluster 1
         (10, 11), (11, 12),               # triangle-ish: cluster 10
         (20, 21)],                        # pair: cluster 20
        ["doc_a", "doc_b"],
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_star_topologies(spark):
    """Large-star/small-star must produce the same (doc_id, component
    min) labels as min-label propagation on chain, clique, and disjoint
    topologies — and converge in far fewer rounds on a long path
    (O(log^2 n) vs O(n))."""
    from feast_ibm_spark.operators.dedup import dedup_clusters_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_clusters_star(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # 64-node path: propagation needs 63 rounds; star must finish well
    # inside max_iterations=10
    n = 64
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_clusters_star(path, max_iterations=10).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_star_equals_propagation_random(spark):
    """Property: on random graphs both algorithms emit identical
    labelings (seeded — deterministic across runs)."""
    import random

    from feast_ibm_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    rng = random.Random(0xC0FFEE)
    for trial in range(3):
        n_nodes, n_edges = 60, 45
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        prop = {r["doc_id"]: r["cluster_id"]
                for r in dedup_clusters(pairs).collect()}
        star = {r["doc_id"]: r["cluster_id"]
                for r in dedup_clusters_star(pairs).collect()}
        assert star == prop, f"trial {trial}: labelings diverge"


def test_dedup_clusters_deep_chain_cache_hygiene(spark):
    """A 36-node path graph (diameter 35) needs ~34 propagation rounds —
    the adversarial depth for min-label propagation. Round-5 hygiene:
    superseded label frames are unpersisted each round and lineage is
    localCheckpoint-truncated every 5, so cached-RDD count after the run
    is O(1) + O(rounds/5), NOT O(rounds) (pre-fix: ~35 leaked frames and
    a 35-join plan)."""
    from feast_ibm_spark.operators.dedup import dedup_clusters

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    n = 36
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n)}
    after = jsc.getPersistentRDDs().size()
    # final labels frame + ~rounds/5 checkpoints may remain referenced;
    # anything near the ~35 frames of the pre-fix leak fails
    assert after - before <= 10, f"cache leak: {after - before} frames retained"


def test_pack_sequences_budget_property(spark):
    """Each pack's token total exceeds the budget by at most one document
    (the floor-of-cumsum formulation's contract), offsets stay in
    [0, budget), and an oversized doc occupies its own pack ids."""
    import pyspark.sql.functions as F

    from feast_ibm_spark.operators.sampling import pack_sequences

    rows = [(i, 100 + (i * 37) % 900) for i in range(50)] + [(50, 5000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = pack_sequences(df, "n_tokens", 2048, order_cols=["doc_id"])
    per_pack = (
        out.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("total"),
            F.max("n_tokens").alias("biggest"),
        ).collect()
    )
    for r in per_pack:
        assert r["total"] < 2048 + r["biggest"]
    offs = [r["pack_offset"] for r in out.collect()]
    assert all(0 <= o < 2048 for o in offs)
    # deterministic: same input -> identical assignment
    again = pack_sequences(df, "n_tokens", 2048, order_cols=["doc_id"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_split_is_stable_under_subsetting(spark):
    """Split membership is a pure function of the id: filtering the corpus
    must not change any surviving row's assignment."""
    import pyspark.sql.functions as F

    from feast_ibm_spark.operators.sampling import split_col

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    full = {r["doc_id"]: r["s"] for r in
            df.select("doc_id", split_col("doc_id").alias("s")).collect()}
    subset = {r["doc_id"]: r["s"] for r in
              df.filter(F.col("doc_id") % 3 == 0)
              .select("doc_id", split_col("doc_id").alias("s")).collect()}
    assert all(full[k] == v for k, v in subset.items())
    # fractions roughly honored
    from collections import Counter
    c = Counter(full.values())
    assert 700 < c["train"] < 900 and 50 < c["val"] < 150


def test_repetition_stats_crafted_docs(spark):
    """Exact fractions on crafted repetition patterns."""
    from feast_ibm_spark.operators.dedup import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "u v w x y z"),       # all 5 unique
            (3, "q"),                 # too short: no 2-grams -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs, n=2).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_grams"] == 5
    assert got[1]["dup_gram_frac"] == (5 - 2) / 5
    assert got[1]["top_gram_frac"] == 3 / 5   # "a b" occurs 3x
    assert got[2]["dup_gram_frac"] == 0.0
    assert got[2]["top_gram_frac"] == 1 / 5


def test_contamination_overlap_crafted(spark):
    """A training doc sharing a 3-gram with the benchmark is flagged with
    the exact distinct-shingle overlap fraction; clean docs emit no row."""
    from feast_ibm_spark.operators.dedup import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "look the quick brown fox ran"),  # shares 2 of its 4 shingles
            (2, "completely unrelated words here now"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           contamination_overlap(train, bench, n=3).collect()}
    assert set(got) == {1}
    # doc 1 shingles: "look the quick","the quick brown","quick brown fox",
    # "brown fox ran" -> 2 contaminated of 4
    assert got[1]["n_shingles"] == 4 and got[1]["n_contaminated"] == 2
    assert got[1]["contaminated_frac"] == 0.5


def test_shingles_short_doc_does_not_crash(spark):
    """Regression: a doc shorter than n tokens must yield an empty shingle
    set, not an INVALID_PARAMETER_VALUE crash (sequence(1,0) is a
    descending [1,0] in Spark and slice(start=0) throws)."""
    from feast_ibm_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e f g"), (3, "a b c d e f g")],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(2, 3)}


def test_pq_ann_recall_and_exact_rescoring(spark, sf_dir):
    """PQ tier: candidates come from the 64x-compressed code scan, but
    emitted cosines are exact (bit-identical to brute force on shared
    pairs); recall@5 with seed codebooks and the default candidate
    budget is measured >= 0.8; trained codebooks must not be worse than
    a tiny-budget seed run."""
    from feast_ibm_spark.operators.similarity import (
        pq_cosine_topk,
        train_pq_codebooks,
    )
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.q_vec_id, r.vec_id): r.cosine
             for r in cosine_topk(emb, q, k=5).collect()}

    pq = pq_cosine_topk(emb, q, k=5).collect()
    hits = [r for r in pq if (r.q_vec_id, r.vec_id) in exact]
    assert len(hits) >= int(0.8 * len(exact))
    for r in hits:  # exact re-rank kernel => bit-identical scores
        assert r.cosine == exact[(r.q_vec_id, r.vec_id)]

    books = train_pq_codebooks(emb, m=8, n_codes=16, seed=42)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    trained = {(r.q_vec_id, r.vec_id) for r in pq_cosine_topk(
        emb, q, k=5, codebooks=books, n_candidates=64).collect()}
    seed_small = {(r.q_vec_id, r.vec_id) for r in pq_cosine_topk(
        emb, q, k=5, n_candidates=16).collect()}
    assert len(trained & set(exact)) >= len(seed_small & set(exact))
    # determinism: same seed -> same books
    assert books == train_pq_codebooks(emb, m=8, n_codes=16, seed=42)


def test_fuzzy_string_pairs_completeness(spark):
    """The trigram candidate filter must not lose qualifying pairs: short
    strings (count bound vacuous) route through the brute-force bucket,
    long strings through the gram index; exact duplicates are excluded."""
    from feast_ibm_spark.operators.fuzzy import fuzzy_string_pairs

    rows = [
        (1, "ab"), (2, "ac"),                    # short bucket, dist 1
        (3, "spark engine"), (4, "spark engines"),  # long, dist 1
        (5, "spark engine"),                     # exact dup of 3 -> excluded
        (6, "zzzzzzzzzzzz"),                     # no partner
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {(r.name_a, r.name_b): r.dist
           for r in fuzzy_string_pairs(df, "name", max_dist=1).collect()}
    assert got == {("ab", "ac"): 1, ("spark engine", "spark engines"): 1}


def test_fuzzy_length_bucketing_lossless(spark, sf_dir):
    """length_bucketing widens the join key to (gram, length bucket) —
    the hot-gram fanout lever — and must be LOSSLESS: every length within
    ±max_dist of a name lands in one of the two probed endpoint buckets.
    Verified by exact output equality on the real part names (both
    max_dist tiers) plus a synthetic set straddling bucket boundaries."""
    from feast_ibm_spark.operators.fuzzy import fuzzy_string_pairs
    from feast_ibm_spark.sources.reader import load_table

    part = load_table(spark, sf_dir, "part")
    for d in (1, 2):
        plain = {(r.name_a, r.name_b, r.dist) for r in
                 fuzzy_string_pairs(part, "p_name", max_dist=d).collect()}
        bucketed = {(r.name_a, r.name_b, r.dist) for r in
                    fuzzy_string_pairs(part, "p_name", max_dist=d,
                                       length_bucketing=True).collect()}
        assert bucketed == plain

    # boundary straddle: lengths 12/13 sit in different W=3 buckets
    rows = [(1, "abcdefghijkl"), (2, "abcdefghijklm"), (3, "abcdefghijkmm")]
    df = spark.createDataFrame(rows, "id bigint, name string")
    plain = {(r.name_a, r.name_b) for r in
             fuzzy_string_pairs(df, "name", max_dist=1).collect()}
    bucketed = {(r.name_a, r.name_b) for r in
                fuzzy_string_pairs(df, "name", max_dist=1,
                                   length_bucketing=True).collect()}
    assert bucketed == plain and len(plain) >= 2


def test_fuzzy_gram_freq_cap(spark):
    """max_gram_freq drops ubiquitous grams from the join side: pairs
    whose shared grams are ALL hot disappear (the priced-out fanout),
    pairs carried by any rare gram survive, and output stays a subset of
    the exact result."""
    from feast_ibm_spark.operators.fuzzy import fuzzy_string_pairs

    # 200 names share the boilerplate stem; two carry a rare distinct tail
    rows = [(i, f"common corporation {i:04d}") for i in range(200)]
    rows += [(900, "common corporation zq7x"), (901, "common corporation zq8x")]
    df = spark.createDataFrame(rows, "id bigint, name string")

    exact = {(r.name_a, r.name_b) for r in
             fuzzy_string_pairs(df, "name", max_dist=1).collect()}
    capped = {(r.name_a, r.name_b) for r in
              fuzzy_string_pairs(df, "name", max_dist=1,
                                 max_gram_freq=50).collect()}
    assert capped <= exact
    # the rare-tail pair shares grams ("zq7"/"zq8" differ but "q7x"... )
    # actually shares e.g. " zq" which appears in only 2 names -> survives
    assert ("common corporation zq7x", "common corporation zq8x") in capped
    # numeric-tail pairs share only hot boilerplate + digit grams seen in
    # many names; the cap prunes most of that fanout
    assert len(capped) < len(exact)


def test_near_dup_lsh_bucket_guard(spark, sf_dir):
    """The opt-in hot-bucket guard on the embedding LSH pair generator:
    with a cap above every real bucket the guarded path must emit
    EXACTLY the unguarded result (same candidates, same exact cosines),
    and with a tiny cap output stays a (star-)subset that still touches
    every flooded bucket via its minimum id."""
    from feast_ibm_spark.operators.similarity import near_dup_pairs_lsh
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plain = {(r.id_a, r.id_b): r.cosine
             for r in near_dup_pairs_lsh(emb).collect()}
    guarded = {(r.id_a, r.id_b): r.cosine
               for r in near_dup_pairs_lsh(emb, max_bucket_size=10**6).collect()}
    assert guarded == plain and len(plain) > 0

    capped = {(r.id_a, r.id_b): r.cosine
              for r in near_dup_pairs_lsh(emb, max_bucket_size=5).collect()}
    assert set(capped) <= set(plain)
    for k, v in capped.items():
        assert v == plain[k]  # scores stay bit-identical


def test_jaccard_dedup_against_semantics(spark):
    """Incremental dedup: an incoming doc near-identical to an existing
    one reports that doc (best match, not just any), a unique incoming
    doc emits nothing, and existing-vs-existing pairs never appear."""
    from feast_ibm_spark.operators.dedup import jaccard_dedup_against

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, base + " extra tail words here"),
         (3, "completely different content about spark execution plans")],
        "doc_id bigint, text string",
    )
    incoming = spark.createDataFrame(
        [(10, base),                                  # exact dup of 1
         (11, "nothing like anything in the corpus at all frankly")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.dup_of, r.jaccard)
           for r in jaccard_dedup_against(incoming, existing,
                                          threshold=0.5).collect()}
    assert set(got) == {10}
    dup_of, jac = got[10]
    assert dup_of == 1 and jac == 1.0  # best match is the exact copy


def test_priority_sample_favors_heavy_rows(spark):
    """Priority sampling must actually favor heavy rows: with weights
    100 vs 1 split evenly over 10k ids and k=500, nearly the whole
    sample should be heavy rows — and the selection must be a pure
    function of the data (identical across calls)."""
    from feast_ibm_spark.operators.sampling import priority_sample_per_group

    df = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit(100)).otherwise(F.lit(1)).alias("w"),
    )
    got = priority_sample_per_group(df, "id", "w", k=500).collect()
    assert len(got) == 500
    heavy = sum(1 for r in got if r.w == 100)
    assert heavy >= 450  # ~100x inclusion odds for heavy rows
    again = priority_sample_per_group(df, "id", "w", k=500).collect()
    assert {r.id for r in got} == {r.id for r in again}


def test_jaccard_topk_search_sanity(spark, sf_dir):
    """The lexical search operator: exactly <=k rows per query, ranks
    dense from 1, jaccard non-increasing with rank, and the top-1 hit
    agrees with the symmetric pair generator's verdict where both
    apply (a rank-1 neighbor above the pair threshold must appear as a
    pair, with the identical score)."""
    from feast_ibm_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_topk,
    )
    from feast_ibm_spark.sources.reader import load_table

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < 10)
    got = ngram_jaccard_topk(docs, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_doc_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        jacs = [r.jaccard for r in rows]
        assert jacs == sorted(jacs, reverse=True)
    pair_scores = {}
    for r in ngram_jaccard_pairs(docs, threshold=0.5).collect():
        pair_scores[(r.doc_a, r.doc_b)] = r.jaccard
        pair_scores[(r.doc_b, r.doc_a)] = r.jaccard
    for q, rows in by_q.items():
        top = rows[0]
        if top.jaccard >= 0.5:
            assert pair_scores[(q, top.doc_id)] == top.jaccard


def test_ivfpq_recall_determinism_and_exact_rescoring(spark, sf_dir):
    """IVF+PQ composition: candidates come from routed residual-code
    scans, emitted cosines are exact (bit-identical on shared pairs),
    recall@5 >= 0.6 at the default probe/candidate budget, and the seed
    construction is deterministic call-to-call."""
    from feast_ibm_spark.operators.similarity import ivfpq_cosine_topk
    from feast_ibm_spark.sources.reader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.q_vec_id, r.vec_id): r.cosine
             for r in cosine_topk(emb, q, k=5).collect()}
    got = ivfpq_cosine_topk(emb, q, k=5).collect()
    pairs = {(r.q_vec_id, r.vec_id) for r in got}
    assert len(pairs & set(exact)) >= int(0.6 * len(exact))
    for r in got:
        if (r.q_vec_id, r.vec_id) in exact:
            assert r.cosine == exact[(r.q_vec_id, r.vec_id)]
    again = {(r.q_vec_id, r.vec_id) for r in ivfpq_cosine_topk(emb, q, k=5).collect()}
    assert pairs == again


def test_ivfpq_rejects_undersized_corpus(spark):
    """Fewer corpus rows than n_cells + n_codes cannot seed the residual
    codebooks — must fail with a clear ValueError, not an opaque numpy
    broadcast-shape error inside the UDF (round-5 advice fix)."""
    from feast_ibm_spark.operators.similarity import ivfpq_cosine_topk

    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5] * 16) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_cells \\+ n_codes"):
        ivfpq_cosine_topk(tiny, tiny.limit(2), k=2)


def test_chunk_documents_semantics(spark):
    """Every token lands in >= 1 chunk, consecutive chunks share exactly
    `overlap` tokens, tails inside the previous overlap get no redundant
    chunk, and short docs yield one chunk."""
    from feast_ibm_spark.operators.sampling import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id bigint, text string")
    out = {(r.doc_id, r.chunk_idx): r.chunk_text.split(" ")
           for r in chunk_documents(df, 4, 1).collect()}
    # stride 3 => ceil((10-1)/3) = 3 chunks: [0:4], [3:7], [6:10]
    assert out[(1, 0)] == ["t0", "t1", "t2", "t3"]
    assert out[(1, 1)] == ["t3", "t4", "t5", "t6"]
    assert out[(1, 2)] == ["t6", "t7", "t8", "t9"]
    assert (1, 3) not in out
    assert out[(2, 0)] == ["a", "b"]  # short doc: one (short) chunk
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, 4, 4)


def test_chunk_udtf_matches_catalyst_twin(spark):
    """The Python-UDTF chunker is row-for-row identical to the Catalyst
    higher-order-function chunker — same canonical chunk count, same
    overlap, same short tails, same blank-doc degenerate ('' token, one
    empty chunk). Two execution strategies, one contract."""
    from feast_ibm_spark.functions.table_functions import chunk_documents_udtf
    from feast_ibm_spark.operators.sampling import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),
        (2, "a b"),
        (3, ""),                      # blank doc degenerate
        (4, "  padded   whitespace  here   "),
        (5, " ".join(f"w{i}" for i in range(9))),  # tail inside overlap
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    want = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
            for r in chunk_documents(df, 4, 1).collect()}
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
           for r in chunk_documents_udtf(df, 4, 1).collect()}
    assert got == want and want

    import pytest as _pytest

    with _pytest.raises(Exception):  # stride <= 0 surfaces from the UDTF
        chunk_documents_udtf(df, 4, 4).collect()


def test_containment_catches_quoted_subset(spark):
    """The asymmetric case Jaccard misses by construction: a short doc
    quoted whole inside a much longer one must appear as (short in
    long) with containment 1.0, must NOT appear in the reverse
    direction, and must fall below a 0.5 Jaccard gate."""
    from feast_ibm_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler.upper()),
         (3, "totally unrelated content words here nothing shared")],
        "doc_id bigint, text string",
    )
    got = {(r.doc_id, r.container_id): r.containment
           for r in ngram_containment_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got  # the long doc is not contained in the short
    jac = {(r.doc_a, r.doc_b)
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) not in jac  # symmetric dedup misses exactly this pair


def test_containment_mutual_near_identical(spark):
    """Near-identical docs contain each other: two rows, one per
    direction, each >= the threshold."""
    from feast_ibm_spark.operators.dedup import ngram_containment_pairs

    base = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " eleven")],
        "doc_id bigint, text string",
    )
    got = {(r.doc_id, r.container_id): r.containment
           for r in ngram_containment_pairs(docs, threshold=0.8).collect()}
    assert got[(1, 2)] == 1.0          # all of doc1's shingles are in doc2
    assert 0.8 <= got[(2, 1)] < 1.0    # doc2 has one extra shingle


def test_pii_redact_and_count(spark):
    """Counts and redaction: multiple PII instances per row, email-first
    ordering, and clean text left untouched."""
    from feast_ibm_spark.functions.text import (
        pii_email_count_col,
        pii_phone_count_col,
        pii_redact_col,
    )

    df = spark.createDataFrame(
        [(1, "reach a@b.io or c.d-e@f-g.org today"),
         (2, "call 555-123-4567 then 555-000-1111"),
         (3, "mixed x@y.com and 123-456-7890"),
         (4, "no pii at all in this row")],
        "id bigint, text string",
    )
    got = {r.id: (r.e, r.p, r.clean) for r in df.select(
        "id",
        pii_email_count_col("text").alias("e"),
        pii_phone_count_col("text").alias("p"),
        pii_redact_col("text").alias("clean"),
    ).collect()}
    assert got[1][:2] == (2, 0) and got[1][2] == "reach <EMAIL> or <EMAIL> today"
    assert got[2][:2] == (0, 2) and got[2][2] == "call <PHONE> then <PHONE>"
    assert got[3][:2] == (1, 1) and got[3][2] == "mixed <EMAIL> and <PHONE>"
    assert got[4][:2] == (0, 0) and got[4][2] == "no pii at all in this row"


def test_epoch_shuffle_is_stable_and_complete(spark):
    """Every row appears exactly once per epoch; per-shard positions are
    dense from 1; the permutation is identical across calls (pure
    function of the data) and differs between epochs."""
    from feast_ibm_spark.operators.sampling import epoch_shuffle

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    e0 = epoch_shuffle(df, "doc_id", epoch=0, n_shards=4).collect()
    assert len(e0) == 1000 and len({r.doc_id for r in e0}) == 1000
    by_shard = {}
    for r in e0:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poses in by_shard.items():
        assert sorted(poses) == list(range(1, len(poses) + 1))
    again = epoch_shuffle(df, "doc_id", epoch=0, n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in e0} == {
        (r.doc_id, r.shard, r.pos) for r in again}
    e1 = {r.doc_id: (r.shard, r.pos) for r in
          epoch_shuffle(df, "doc_id", epoch=1, n_shards=4).collect()}
    m0 = {r.doc_id: (r.shard, r.pos) for r in e0}
    moved = sum(1 for d in m0 if m0[d] != e1[d])
    assert moved > 900  # epochs are decorrelated permutations


def test_survivorship_merge_is_column_level(spark):
    """Golden-record semantics: each attribute survives independently —
    the freshest row's nulls must NOT erase older non-null values, which
    is exactly where row-level latest-wins (merge_changes) differs."""
    from datetime import datetime as TS

    from feast_ibm_spark.operators.merge import survivorship_merge

    df = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 1, "a@x.io", None),
         (1, TS(2024, 1, 2), 2, None, "Alice"),
         (1, TS(2024, 1, 3), 3, None, None),
         (2, TS(2024, 1, 1), 4, None, None)],
        "k bigint, ts timestamp, id bigint, email string, name string",
    )
    got = {r.k: (r.email, r.name, r.n_sources)
           for r in survivorship_merge(
               df, ["k"], ["ts", "id"], ["email", "name"]).collect()}
    # freshest row for k=1 is all-null, yet both attrs survive from
    # their own latest non-null observations
    assert got[1] == ("a@x.io", "Alice", 3)
    assert got[2] == (None, None, 1)


def test_pagerank_fixed_point_semantics(spark):
    """A hub receiving mass from many spokes must outrank the spokes;
    scores are a pure function of the edge set (identical across runs),
    and every node keeps at least the teleport mass."""
    from feast_ibm_spark.operators.graph import PR_SCALE, pagerank_fixed_point

    # star: 0 <-> each of 1..6 (hub 0), plus an isolated pair 7 <-> 8
    star = [(0, i) for i in range(1, 7)] + [(i, 0) for i in range(1, 7)]
    pair = [(7, 8), (8, 7)]
    edges = spark.createDataFrame(star + pair, "src bigint, dst bigint")
    got = {r.node: r.score_scaled
           for r in pagerank_fixed_point(edges, iterations=3).collect()}
    assert got[0] > got[1] > 0
    assert all(got[i] == got[1] for i in range(2, 7))  # spokes symmetric
    assert got[7] == got[8]                            # pair symmetric
    teleport = (15 * PR_SCALE) // 100
    assert all(v >= teleport for v in got.values())
    again = {r.node: r.score_scaled
             for r in pagerank_fixed_point(edges, iterations=3).collect()}
    assert got == again


def test_weighted_pagerank_semantics(spark):
    """All-ones weights reproduce uniform PageRank bit-for-bit (the
    recurrences coincide), and shifting weight toward one out-edge
    shifts rank mass toward its head."""
    from feast_ibm_spark.operators.graph import (
        pagerank_fixed_point,
        pagerank_fixed_point_weighted,
    )

    raw = [(0, 1), (0, 2), (1, 0), (2, 0)]
    uni = spark.createDataFrame(
        [(a, b, 1) for a, b in raw], "src bigint, dst bigint, weight bigint"
    )
    got = {r.node: r.score_scaled
           for r in pagerank_fixed_point_weighted(uni, 3).collect()}
    want = {r.node: r.score_scaled
            for r in pagerank_fixed_point(
                spark.createDataFrame(raw, "src bigint, dst bigint"), 3
            ).collect()}
    assert got == want

    skew = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        "src bigint, dst bigint, weight bigint",
    )
    s = {r.node: r.score_scaled
         for r in pagerank_fixed_point_weighted(skew, 3).collect()}
    assert s[1] > s[2]  # 9x the weight -> more mass at node 1


def test_personalized_pagerank_semantics(spark):
    """Mass flows only FROM the seeds (hand-computed exact values on a
    chain: the initial PR_SCALE pulse travels one hop per round while
    the steady teleport trickle refills behind it), components not
    reachable from any seed finish at exactly 0, and seeding EVERY node
    reproduces global PageRank bit-for-bit (the recurrences coincide
    when the teleport set is all nodes)."""
    from feast_ibm_spark.operators.graph import (
        pagerank_fixed_point,
        personalized_pagerank,
    )

    chain = [(0, 1), (1, 2), (2, 3)]             # 0 -> 1 -> 2 -> 3
    island = [(10, 11), (11, 10)]                # unreachable from 0
    edges = spark.createDataFrame(chain + island, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {r.node: r.score_scaled
           for r in personalized_pagerank(edges, seeds, 3).collect()}
    # round 3 by hand: seed holds teleport 150000; 1 and 2 carry the
    # teleport trickle damped once/twice; 3 carries the 3-hop pulse
    assert got == {0: 150000, 1: 127500, 2: 108375, 3: 614125,
                   10: 0, 11: 0}

    all_nodes = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 10, 11)], "node bigint"
    )
    ppr = {r.node: r.score_scaled
           for r in personalized_pagerank(edges, all_nodes, 3).collect()}
    glob = {r.node: r.score_scaled
            for r in pagerank_fixed_point(edges, 3).collect()}
    assert ppr == glob


def test_negative_sample_pairs_never_self(spark):
    """Every row draws exactly k negatives, never itself, all within
    the id range, and the draw is a pure function of (id, rank) —
    identical across runs."""
    from feast_ibm_spark.operators.sampling import negative_sample_pairs

    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(7)], "doc_id bigint, tag string"
    )
    out = negative_sample_pairs(df, k=3).collect()
    assert len(out) == 7 * 3
    for r in out:
        assert r.neg_doc_id != r.doc_id
        assert 0 <= r.neg_doc_id < 7
        assert r.neg_tag == f"p{r.neg_doc_id}"
    again = negative_sample_pairs(df, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_resample_interpolate_semantics(spark):
    """Midpoint of a rising segment interpolates exactly; an observation
    AT a grid instant returns itself; instants before the first / after
    the last observation are NULL (no extrapolation); a falling segment
    truncates toward zero in BOTH engines (sign-safe formula)."""
    import datetime as dt

    from feast_ibm_spark.operators.resample import resample_interpolate

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        (1, t(2), 100), (1, t(4), 300),  # rising segment across h2..h4
        (1, t(6), 299),                  # falling by 1 over 2h: trunc check
        (2, t(3, 30), 1000),             # single off-grid obs: all NULL
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v bigint")
    got = {
        (r.k, r.grid_ts.hour): r.v
        for r in resample_interpolate(
            df, ["k"], "ts", "v",
            "2024-01-01 00:00:00", "2024-01-01 08:00:00", 3600,
        ).collect()
    }
    assert got[(1, 0)] is None and got[(1, 1)] is None   # before first obs
    assert got[(1, 2)] == 100                            # exactly at obs
    assert got[(1, 3)] == 200                            # midpoint of 100->300
    assert got[(1, 4)] == 300
    # falling 300->299 over 2h: at 5h the true value is 299.5, and the
    # sign-safe formula gives 300 - (1 * 1h) div 2h = 300 in both engines
    assert got[(1, 5)] == 300
    assert got[(1, 6)] == 299
    assert got[(1, 7)] is None                           # after last obs
    assert all(got[(2, h)] is None for h in range(0, 9))  # obs off-grid only


def test_kcore_peel_cascades_to_fixpoint(spark):
    """A 5-clique with a pendant chain hanging off it: the chain needs
    CASCADING peels (removing the tail drops the next node below k),
    the clique survives intact with in-core degree 4, and running one
    extra round changes nothing once the fixpoint is reached."""
    from feast_ibm_spark.operators.graph import kcore_peel

    clique = [(i, j) for i in range(5) for j in range(5) if i < j]
    chain = [(4, 10), (10, 11), (11, 12)]  # peels 12 -> 11 -> 10
    extra = [(10, 13), (10, 14)]  # deg(10)=4 pre-peel, still not in core
    edges = spark.createDataFrame(
        clique + chain + extra, "src bigint, dst bigint"
    )
    got = {r.node: r.core_deg
           for r in kcore_peel(edges, k=3, rounds=4).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}
    again = {r.node: r.core_deg
             for r in kcore_peel(edges, k=3, rounds=5).collect()}
    assert again == got


def test_boilerplate_segment_removal_semantics(spark):
    """Segments repeated across >= min_docs documents vanish from every
    document; unique content survives in original order; a document that
    is pure boilerplate comes back empty rather than disappearing."""
    from feast_ibm_spark.operators.curation import (
        remove_boilerplate_segments,
    )

    banner = "accept all cookies"  # 3 tokens = one segment at seg_tokens=3
    rows = [
        (1, f"{banner} alpha beta gamma"),
        (2, f"delta epsilon zeta {banner}"),
        (3, f"{banner} eta theta iota"),
        (4, banner),                      # pure boilerplate
        (5, "kappa lambda mu nu xi omicron"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_segments, r.n_removed)
        for r in remove_boilerplate_segments(
            docs, seg_tokens=3, min_docs=3
        ).collect()
    }
    assert got[1] == ("alpha beta gamma", 2, 1)
    assert got[2] == ("delta epsilon zeta", 2, 1)
    assert got[3] == ("eta theta iota", 2, 1)
    assert got[4] == ("", 1, 1)
    assert got[5] == ("kappa lambda mu nu xi omicron", 2, 0)


def test_pagerank_incremental_equals_full_recompute(spark):
    """Delta-edge refresh must be BIT-IDENTICAL to a full fixed-point
    run on the union graph — integer arithmetic makes this exact, and
    the frontier logic (deg-changed sources' out-neighbors + new nodes,
    propagated one hop per round) must cover every truly-changed node.
    Exercised on a graph where the delta (a) rewires an existing hub,
    (b) introduces brand-new nodes, one of them source-only."""
    from feast_ibm_spark.operators.graph import (
        pagerank_fixed_point,
        pagerank_incremental,
        pagerank_iteration_scores,
    )

    base = (
        [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
        + [(5, 6), (6, 7), (7, 5), (8, 1)]
    )
    delta = [(0, 9), (9, 10), (10, 0), (11, 12)]  # 11 is source-only & new
    base_df = spark.createDataFrame(base, "src bigint, dst bigint")
    delta_df = spark.createDataFrame(delta, "src bigint, dst bigint")
    full_df = spark.createDataFrame(base + delta, "src bigint, dst bigint")

    want = {r.node: r.score_scaled
            for r in pagerank_fixed_point(full_df, iterations=3).collect()}
    state = pagerank_iteration_scores(base_df, iterations=3)
    got = {r.node: r.score_scaled
           for r in pagerank_incremental(base_df, delta_df, state,
                                         iterations=3).collect()}
    assert got == want


def test_triangle_counts_semantics(spark):
    """A 4-clique gives every member C(3,2)=3 triangles; a node on a
    single triangle gets 1; a hub whose spokes are mutually unconnected
    gets 0 (absent from the output). Input direction and duplicate edges
    must not matter — the operator canonicalizes to an undirected set."""
    from feast_ibm_spark.operators.graph import triangle_counts

    clique4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    tri = [(10, 11), (11, 12), (12, 10)]
    star = [(20, i) for i in range(21, 26)]  # hub 20, no spoke-spoke edge
    noise = [(j, i) for (i, j) in clique4] + clique4  # both directions + dups
    edges = spark.createDataFrame(
        clique4 + tri + star + noise, "src bigint, dst bigint"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1}


def test_containment_shingle_freq_cap_only_lowers(spark):
    """max_shingle_freq on the containment operator: dropping hot
    shingles from the JOIN side only (sizes still count everything)
    means computed containment can only DROP — emitted pairs are a
    subset with scores <= the uncapped run's, and pairs carried by rare
    shingles survive untouched."""
    from feast_ibm_spark.operators.dedup import ngram_containment_pairs

    hot = "common boilerplate header words appear everywhere always"
    docs = spark.createDataFrame(
        [(1, hot + " unique alpha beta"),
         (2, hot + " unique alpha beta gamma delta epsilon"),
         (3, hot + " totally different tail content here now"),
         (4, hot + " yet another unrelated ending for this doc")],
        "doc_id bigint, text string",
    )
    plain = {(r.doc_id, r.container_id): r.containment
             for r in ngram_containment_pairs(
                 docs, n=2, threshold=0.3).collect()}
    capped = {(r.doc_id, r.container_id): r.containment
              for r in ngram_containment_pairs(
                  docs, n=2, threshold=0.3, max_shingle_freq=2).collect()}
    assert set(capped) <= set(plain)
    for pair, c in capped.items():
        assert c <= plain[pair]
    # the (1 in 2) containment is carried by the rare "unique alpha
    # beta..." shingles (freq 2 <= cap), so it survives the cap
    assert (1, 2) in capped


def test_gif_codec_roundtrip_and_frame_sample(spark):
    """The GIF pair must round-trip arbitrary frames (incl. shapes that
    force LZW code-size growth), and the frame_sample kernel must keep
    exactly the every-nth frames with exact means."""
    import numpy as np

    from feast_ibm_spark.functions.codecs import gif_decode, gif_encode
    from feast_ibm_spark.operators.multimodal import (
        attach_media_columns,
        frame_sample,
    )

    rng = np.random.RandomState(11)
    for shape in [(1, 4, 4), (5, 8, 3), (2, 64, 64)]:
        fr = rng.randint(0, 256, shape, dtype=np.uint8)
        assert (gif_decode(gif_encode(fr)) == fr).all()

    frames = rng.randint(0, 256, (7, 4, 4), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(gif_encode(frames)))], "doc_id bigint, payload binary"
    )
    media = attach_media_columns(df, "doc_id", F.col("payload"), "video", "gif")
    got = {r.frame_idx: r for r in frame_sample(media, every_n=3).collect()}
    assert set(got) == {0, 3, 6}
    for idx, r in got.items():
        assert r.n_frames == 7 and (r.height, r.width) == (4, 4)
        assert r.mean_pixel == float(frames[idx].astype(np.float64).mean())

    # non-gif formats still raise the documented gate
    bad = attach_media_columns(df, "doc_id", F.col("payload"), "video", "mp4")
    import pytest as _pt
    with _pt.raises(Exception, match="ffmpeg|PyAV|gif"):
        frame_sample(bad).collect()


def test_lsh_oracle_shape_guard():
    """The loud code-level coupling between the LSH gate queries' auto
    defaults and their fixed-literal oracles (round-6 review): at every
    ORACLE-COMPARED scale the auto config must resolve byte-exactly to
    the shape the oracle planes encode. If this fails, the parity corpus
    outgrew AUTO_MIN_ROWS — regenerate ORACLE_NEAR_DUP_LSH /
    ORACLE_EMBEDDING_CLUSTERS_LSH for the auto-resolved plane count (or
    raise AUTO_MIN_ROWS) BEFORE the driver gate reports a mysterious
    hash mismatch. Do NOT pin the query args instead: that reintroduces
    the quadratic bucket-join cliff at smoke scale (measured, round 6)."""
    import duckdb

    from feast_ibm_spark.operators.similarity import lsh_auto_config
    from feast_ibm_spark.queries.knn import LSH_ORACLE_CONFIG, NEAR_DUP_COS

    oracle_shape = (
        LSH_ORACLE_CONFIG["n_planes"],
        LSH_ORACLE_CONFIG["n_tables"],
        LSH_ORACLE_CONFIG["max_bucket_size"],
    )
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/embeddings.parquet'"
        ).fetchone()[0]
        got = lsh_auto_config(n, NEAR_DUP_COS)[:3]
        assert got == oracle_shape, (
            f"{sf}: {n} vectors auto-resolves to {got} but the oracle "
            f"plane literals encode {oracle_shape} — regenerate the "
            "oracle for the new shape (see docstring)"
        )


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYP_GRAPH = True
except Exception:  # pragma: no cover
    _HAS_HYP_GRAPH = False


if _HAS_HYP_GRAPH:

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=30,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_triangle_counts_property_matches_brute_force(spark, edges):
        """Degree-ordered orientation vs itertools brute force on random
        small graphs (self-loops and duplicate/reversed edges included in
        the input on purpose — canonicalization must absorb them)."""
        from itertools import combinations

        from feast_ibm_spark.operators.graph import triangle_counts

        es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        nodes = sorted({n for e in es for n in e})
        want = {}
        for x, y, z in combinations(nodes, 3):
            if ((x, y) in es and (y, z) in es and (x, z) in es):
                for n in (x, y, z):
                    want[n] = want.get(n, 0) + 1

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == want

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=30,
        ),
        k=st.integers(2, 4),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_kcore_property_matches_brute_force(spark, edges, k):
        """Fixed-round peel with rounds >= n_nodes equals the true k-core
        computed by a Python peel-to-fixpoint."""
        from feast_ibm_spark.operators.graph import kcore_peel

        es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {n for n, d in deg.items() if d < k}
            if not drop:
                break
            es = {(a, b) for a, b in es if a not in drop and b not in drop}
        want = {}
        for a, b in es:
            want[a] = want.get(a, 0) + 1
            want[b] = want.get(b, 0) + 1

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        got = {r.node: r.core_deg
               for r in kcore_peel(df, k=k, rounds=10).collect()}
        assert got == want


if _HAS_HYP_GRAPH:

    @given(
        obs=st.lists(
            st.tuples(
                st.integers(1, 2),        # key
                st.integers(0, 96),       # obs offset (15-min units)
                st.integers(-500, 500),   # integer value (cents-like)
            ),
            min_size=1,
            max_size=15,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_resample_interpolate_property_matches_brute_force(spark, obs):
        """Exact-integer interpolation vs a pure-Python replay of the
        documented formula on random per-key series (duplicate
        timestamps deduped by the same tiebreak rule)."""
        import datetime as dt

        from feast_ibm_spark.operators.resample import resample_interpolate

        base = dt.datetime(2024, 1, 1)
        rows = [
            (k, base + dt.timedelta(minutes=15 * o), int(v), i)
            for i, (k, o, v) in enumerate(obs)
        ]
        df = spark.createDataFrame(
            rows, "k bigint, ts timestamp, v bigint, tie bigint"
        )
        got = {
            (r.k, r.grid_ts): r.v
            for r in resample_interpolate(
                df, ["k"], "ts", "v",
                "2024-01-01 00:00:00", "2024-01-02 00:00:00", 3600,
                tiebreak_cols=["tie"],
            ).collect()
        }

        # brute force: dedup (max tie per (k, ts)), then the exact
        # integer formula per grid instant
        series = {}
        for k, ts, v, tie in rows:
            cur = series.setdefault(k, {})
            if ts not in cur or tie > cur[ts][1]:
                cur[ts] = (v, tie)
        want = {}
        for k, cur in series.items():
            pts = sorted((ts, v) for ts, (v, _) in cur.items())
            for h in range(25):
                g = base + dt.timedelta(hours=h)
                prevs = [(t, v) for t, v in pts if t <= g]
                nexts = [(t, v) for t, v in pts if t >= g]
                if not prevs or not nexts:
                    want[(k, g)] = None
                    continue
                t0, v0 = prevs[-1]
                t1, v1 = nexts[0]
                if t0 == t1:
                    want[(k, g)] = v0
                    continue
                w = int((g - t0).total_seconds() * 1_000_000)
                d = int((t1 - t0).total_seconds() * 1_000_000)
                dv = v1 - v0
                if dv >= 0:
                    want[(k, g)] = v0 + (dv * w) // d
                else:
                    want[(k, g)] = v0 - ((-dv) * w) // d
        assert got == want


def test_bpe_train_matches_python_reference(spark):
    """bpe_train == a pure-Python Sennrich reference on a crafted corpus
    exercising greedy overlap ((a)(a)(a) -> (aa)(a)), frequency
    weighting, multi-char merges, and the (freq DESC, left, right)
    tie-break."""
    from collections import Counter

    from feast_ibm_spark.operators.bpe import bpe_train

    docs = [
        (1, "aaa aaa banana banana banana bandana"),
        (2, "banana abc abc abc xyz xyz"),
        (3, "aaa bandana cab cab"),
    ]

    def reference(texts, n_merges):
        vocab = Counter()
        for t in texts:
            vocab.update(w for w in t.strip().split() if w)
        seqs = {w: list(w) for w in vocab}
        merges = []
        for rank in range(1, n_merges + 1):
            pairs = Counter()
            for w, s in seqs.items():
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] += vocab[w]
            if not pairs:
                break
            (l, r), freq = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, l, r, l + r, freq))
            for w, s in seqs.items():
                out, i = [], 0
                while i < len(s):  # greedy left-to-right
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = [(r.rank, r.left, r.right, r.merged, r.pair_freq)
           for r in bpe_train(df, n_merges=6).orderBy("rank").collect()]
    want = reference([t for _, t in docs], 6)
    assert got == want and len(got) == 6


if _HAS_HYP_GRAPH:

    @given(
        vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=40),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_moving_median_property_matches_python(spark, vals):
        """Frame-bounded collect+sort median vs statistics.median over the
        same trailing-7 window, random integer series (negatives and
        duplicates included — interpolation and sort stability must hold)."""
        import statistics

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        rows = [(1, i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k bigint, i bigint, v bigint")
        w = Window.partitionBy("k").orderBy("i").rowsBetween(-6, 0)
        arr = F.array_sort(F.collect_list("v").over(w))
        n = F.size(arr)
        lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
        got = {
            r.i: r.med
            for r in df.select(
                "i", ((lo + hi).cast("double") / F.lit(2.0)).alias("med")
            ).collect()
        }
        want = {
            i: float(statistics.median(vals[max(0, i - 6): i + 1]))
            for i in range(len(vals))
        }
        assert got == want


# ---------------------------------------------------------------------------
# trend_theil_sen scale hardening (VERDICT r6 item 2): deterministic pair
# cap + windowed median (no giant per-key array)
# ---------------------------------------------------------------------------


def test_theil_sen_capped_equals_uncapped_below_cap(spark, sf_dir):
    """With the cap above every user's C(k,2), the hash draw keeps all
    events, so the capped plan must be ROW-IDENTICAL to the uncapped
    (gate/oracle) config — same n_pairs, same interpolated median."""
    from feast_ibm_spark.queries.behavioral import q_trend_theil_sen

    base = {
        (r.user_id, r.n_pairs): r.slope_cents_per_day
        for r in q_trend_theil_sen(spark, sf_dir).collect()
    }
    capped = {
        (r.user_id, r.n_pairs): r.slope_cents_per_day
        for r in q_trend_theil_sen(
            spark, sf_dir, max_pairs_per_key=10_000_000
        ).collect()
    }
    assert capped == base and len(base) > 0


def test_theil_sen_cap_is_hard_on_hot_key(spark, tmp_path):
    """A hot user with k=2000 events (~2x10^6 pairs uncapped) under
    max_pairs_per_key=10_000 must materialize at most 10_000 pairs —
    the cap is enforced by pre-join event subsampling (largest m with
    C(m,2) <= cap), a hard bound, not an expectation. A cold user
    (k=5) in the same frame must be bit-identical to its uncapped
    result (the draw keeps everything below the cap)."""
    import pandas as pd

    from feast_ibm_spark.queries.behavioral import q_trend_theil_sen

    hot = pd.DataFrame(
        {
            "event_id": range(2000),
            "user_id": 1,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(2000), unit="h"),
            # noisy LINEAR trend: +0.5/hour => +12.00/day => 1200
            # cents/day robust slope; the bounded periodic perturbation
            # cannot move the pairwise-slope median far
            "value": [i * 0.5 + ((i * 37) % 100) / 10.0 for i in range(2000)],
        }
    )
    cold = pd.DataFrame(
        {
            "event_id": range(2000, 2005),
            "user_id": 2,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(5), unit="h"),
            "value": [1.0, 5.0, 2.0, 9.0, 4.0],
        }
    )
    pdf = pd.concat([hot, cold], ignore_index=True)
    # the query loader reads <sf_dir>/events.parquet
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "sf" / "events.parquet")
    )
    sfd = str(tmp_path / "sf")

    uncapped = {
        r.user_id: (r.n_pairs, r.slope_cents_per_day)
        for r in q_trend_theil_sen(spark, sfd).collect()
    }
    capped = {
        r.user_id: (r.n_pairs, r.slope_cents_per_day)
        for r in q_trend_theil_sen(spark, sfd, max_pairs_per_key=10_000).collect()
    }
    assert uncapped[1][0] == 2000 * 1999 // 2
    assert capped[1][0] <= 10_000
    # cold key below the cap: identical to uncapped, bit-for-bit
    assert capped[2] == uncapped[2]
    # the capped estimate still tracks the robust trend (within 10% of
    # the full-pair median of a noisy linear series)
    assert abs(uncapped[1][1] - 1200.0) < 120.0
    assert abs(capped[1][1] - uncapped[1][1]) <= 0.1 * abs(uncapped[1][1])


# ---------------------------------------------------------------------------
# containment prefix filtering (VERDICT r6 item 5): exact asymmetric tier
# ---------------------------------------------------------------------------


def test_containment_prefix_equals_brute(spark):
    """Containment prefix filtering is EXACT: ordered-pair-for-pair,
    value-for-value equal to the inverted-index brute tier at every
    threshold — including on a boilerplate-flooded corpus where every
    document shares a hot footer, AND for the asymmetric shape Jaccard
    misses (a short doc quoted whole inside a long one). The containee
    prefix is |A|-ceil(t*|A|)+1 rarest-first tokens; the container side
    indexes its FULL set (no lower bound on overlap vs |B|, so any
    container-side prefix would lose recall — the quoted-short-doc pairs
    below would vanish under a symmetric prefix)."""
    import random

    from feast_ibm_spark.operators.dedup import (
        containment_prefix_pairs,
        ngram_containment_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    footer = "common footer shared by every single document here"
    rows = []
    for i in range(50):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 30)))
        rows.append((i, f"{body} {footer}"))
    # asymmetric shape: short docs quoted whole inside much longer hosts
    for i in range(50, 60):
        quote = rows[i - 50][1]
        pad = " ".join(rng.choice(vocab) for _ in range(80))
        rows.append((i, f"{pad} {quote} {pad}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    for thr in (0.5, 0.7, 0.9):
        brute = {(r.doc_id, r.container_id): r.containment
                 for r in ngram_containment_pairs(docs, threshold=thr).collect()}
        pref = {(r.doc_id, r.container_id): r.containment
                for r in containment_prefix_pairs(docs, threshold=thr).collect()}
        assert brute, f"degenerate fixture at threshold {thr}"
        # quoted-short-doc pairs must be present (the asymmetric case)
        if thr <= 0.9:
            assert any(a < 50 <= b for (a, b) in brute)
        assert pref == brute  # identical ordered pairs AND float values


def test_theil_sen_null_values_match_oracle(spark, tmp_path):
    """Round-7 review fix: NULL event values produce NULL pairwise
    slopes; SQL median() skips NULLs but count(*) does not. The
    windowed-median rewrite must rank only non-NULL slopes (offset by
    the per-key NULL count — NULLs sort first) while n_pairs keeps
    counting every pair, and an all-NULL key must still emit its row
    with a NULL slope. Compared against the registered DuckDB oracle
    on the same parquet — the gate's own semantics."""
    import duckdb
    import pandas as pd

    from feast_ibm_spark.queries.behavioral import (
        ORACLE_THEIL_SEN,
        q_trend_theil_sen,
    )

    events = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 10, 11],
            "user_id": [1, 1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00",
                 "2024-01-05 00:00", "2024-01-05 01:00"]
            ),
            "value": [1.0, None, 2.0, None, None],
        }
    )
    d = tmp_path / "sf"
    d.mkdir()
    events.to_parquet(d / "events.parquet", index=False)

    got = {
        (r.user_id, r.n_pairs): r.slope_cents_per_day
        for r in q_trend_theil_sen(spark, str(d)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d / 'events.parquet'}'"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(ORACLE_THEIL_SEN).fetchall()
    }
    con.close()
    assert got == want
    # hand-check: user 1 = 3 pairs, one valid slope (+50 cents/hour =
    # 1200 cents/day); user 2 = 1 pair, all NULL
    assert got[(1, 3)] == 1200.0
    assert got[(2, 1)] is None


# --- hypothesis property net for the Jaccard dedup tiers ------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st_hyp

    _HAS_HYP_DEDUP = True
except Exception:  # pragma: no cover
    _HAS_HYP_DEDUP = False


if _HAS_HYP_DEDUP:

    _VOCAB = ["aa", "bb", "cc", "dd"]

    def _brute_jaccard_pairs(texts, n, threshold):
        """Python reference of the documented semantics: DISTINCT word
        n-gram shingles, integer threshold test common*1000 >=
        round(t*1000)*union, pairs only meet on >=1 shared shingle."""
        sh = {
            d: {tuple(t.split()[i:i + n])
                for i in range(len(t.split()) - n + 1)}
            for d, t in texts.items()
        }
        thr = int(round(threshold * 1000))
        out = {}
        ids = sorted(texts)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                common = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - common
                if common >= 1 and common * 1000 >= thr * union:
                    out[(a, b)] = common / union
        return out

    @given(
        token_lists=st_hyp.lists(
            st_hyp.lists(st_hyp.sampled_from(_VOCAB), min_size=1, max_size=10),
            min_size=2,
            max_size=5,
        ),
        threshold=st_hyp.sampled_from([0.2, 0.5, 0.8]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_jaccard_tiers_property_match_brute_force(
        spark, token_lists, threshold
    ):
        """Random tiny-vocab corpora (dense shingle collisions): the
        exact inverted-index tier AND the PPJoin prefix tier must both
        reproduce the Python reference — pair sets and IEEE-exact
        jaccard values — at every sampled threshold."""
        texts = {i: " ".join(toks) for i, toks in enumerate(token_lists)}
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "doc_id long, text string"
        )
        # Invariant the frequency-cap anti-join inversion rests on
        # (operators/dedup.py cap sites, ADVICE r8): shingle keys are
        # never NULL for non-null text, so inner-join -> left_anti
        # flips nothing. A key-construction change that mints NULLs
        # must fail here before it can silently diverge capped runs.
        from feast_ibm_spark.operators.dedup import shingles_col

        n_null = (
            df.select(F.explode(shingles_col("text", 2)).alias("s"))
            .filter(F.col("s").isNull())
            .count()
        )
        assert n_null == 0
        want = _brute_jaccard_pairs(texts, 2, threshold)
        got_exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(df, n=2, threshold=threshold).collect()
        }
        assert got_exact == want
        got_prefix = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_jaccard_pairs(df, n=2, threshold=threshold).collect()
        }
        assert got_prefix == want


if _HAS_HYP_DEDUP:

    def _brute_containment_pairs(texts, n, threshold):
        """Ordered (doc_id, container_id, containment) pairs with
        |A∩B|*1000 >= round(t*1000)*|A|, common >= 1."""
        sh = {
            d: {tuple(t.split()[i:i + n])
                for i in range(len(t.split()) - n + 1)}
            for d, t in texts.items()
        }
        thr = int(round(threshold * 1000))
        out = {}
        for a in texts:
            for b in texts:
                if a == b or not sh[a]:
                    continue
                common = len(sh[a] & sh[b])
                if common >= 1 and common * 1000 >= thr * len(sh[a]):
                    out[(a, b)] = common / len(sh[a])
        return out

    @given(
        token_lists=st_hyp.lists(
            st_hyp.lists(st_hyp.sampled_from(_VOCAB), min_size=1, max_size=10),
            min_size=2,
            max_size=5,
        ),
        threshold=st_hyp.sampled_from([0.4, 0.6, 0.9]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_containment_tiers_property_match_brute_force(
        spark, token_lists, threshold
    ):
        """Random tiny-vocab corpora: the brute containment tier AND the
        prefix tier (round-7 PPJoin addition, previously only
        fixed-corpus-pinned) must both reproduce the Python reference —
        ordered pair sets and IEEE-exact containment values."""
        from feast_ibm_spark.operators.dedup import (
            containment_prefix_pairs,
            ngram_containment_pairs,
        )

        texts = {i: " ".join(toks) for i, toks in enumerate(token_lists)}
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "doc_id long, text string"
        )
        want = _brute_containment_pairs(texts, 2, threshold)
        got_brute = {
            (r.doc_id, r.container_id): r.containment
            for r in ngram_containment_pairs(
                df, n=2, threshold=threshold
            ).collect()
        }
        assert got_brute == want
        got_prefix = {
            (r.doc_id, r.container_id): r.containment
            for r in containment_prefix_pairs(
                df, n=2, threshold=threshold
            ).collect()
        }
        assert got_prefix == want


if _HAS_HYP_DEDUP:

    def _py_levenshtein(a: str, b: str) -> int:
        """Textbook DP edit distance (unit ins/del/sub) — the same
        semantics as Spark's ``levenshtein`` expression."""
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                ))
            prev = cur
        return prev[-1]

    def _brute_fuzzy_pairs(values, max_dist):
        """Python reference of fuzzy_string_pairs' documented contract:
        all distinct-value pairs (a < b) with 1 <= levenshtein <= d."""
        vals = sorted(set(values))
        out = {}
        for i, a in enumerate(vals):
            for b in vals[i + 1:]:
                if abs(len(a) - len(b)) > max_dist:
                    continue
                d = _py_levenshtein(a, b)
                if 1 <= d <= max_dist:
                    out[(a, b)] = d
        return out

    @given(
        values=st_hyp.lists(
            st_hyp.text(alphabet="ab", min_size=1, max_size=12),
            min_size=2,
            max_size=12,
        ),
        max_dist=st_hyp.sampled_from([1, 2]),
        bucketing=st_hyp.booleans(),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_fuzzy_pairs_property_match_brute_force(
        spark, values, max_dist, bucketing
    ):
        """Random short-alphabet corpora (dense gram collisions, strings
        straddling the FastSS deletion path and the q-gram tiers):
        fuzzy_string_pairs must reproduce a Python levenshtein brute
        force — pair sets AND distances — under both lever settings
        (length_bucketing on/off; the levers are documented lossless)."""
        from feast_ibm_spark.operators.fuzzy import fuzzy_string_pairs

        df = spark.createDataFrame([(v,) for v in values], "name string")
        want = _brute_fuzzy_pairs(values, max_dist)
        got = {
            (r.name_a, r.name_b): r.dist
            for r in fuzzy_string_pairs(
                df, "name", max_dist=max_dist, length_bucketing=bucketing
            ).collect()
        }
        assert got == want

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 7), st_hyp.integers(0, 7)),
            min_size=1,
            max_size=24,
        ),
        iterations=st_hyp.sampled_from([1, 3]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_pagerank_property_matches_python_reference(
        spark, edges, iterations
    ):
        """pagerank_fixed_point is ENGINE-EXACT integer arithmetic, so a
        pure-Python power iteration with the same recurrence must match
        to the last unit — on random multigraphs with self-loops and
        duplicate edges (duplicates count toward out-degree and
        contribute once per edge, by contract)."""
        from feast_ibm_spark.operators.graph import (
            PR_D_DEN,
            PR_D_NUM,
            PR_SCALE,
            pagerank_fixed_point,
        )

        nodes = sorted({n for e in edges for n in e})
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        score = {n: PR_SCALE for n in nodes}
        base = (15 * PR_SCALE) // 100
        for _ in range(iterations):
            mass = {n: 0 for n in nodes}
            for s, d in edges:
                mass[d] += (PR_D_NUM * score[s]) // (PR_D_DEN * deg[s])
            score = {n: base + mass[n] for n in nodes}

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        got = {r.node: r.score_scaled
               for r in pagerank_fixed_point(df, iterations).collect()}
        assert got == score


if _HAS_HYP_DEDUP:

    @given(
        snap=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 3), st_hyp.integers(0, 5),
                          st_hyp.integers(-5, 5)),
            min_size=0, max_size=12,
        ),
        changes=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 3), st_hyp.integers(0, 5),
                          st_hyp.integers(-5, 5), st_hyp.booleans()),
            min_size=0, max_size=12,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_merge_changes_property_matches_replay(spark, snap, changes):
        """merge_changes (union + one keyed window, no join) must equal
        a Python replay of its documented contract: winner per key =
        max (ts, source-priority, tiebreak), change rows beating
        snapshot rows on timestamp ties, delete winners vanishing —
        on random batches with duplicate keys/timestamps on both
        sides and multi-row snapshots."""
        from feast_ibm_spark.operators.merge import merge_changes

        if not snap and not changes:
            return
        # unique per-row id doubles as the deterministic tiebreak
        snap_rows = [(k, ts, v, i) for i, (k, ts, v) in enumerate(snap)]
        chg_rows = [
            (k, ts, v, 1000 + i, "delete" if d else "upsert")
            for i, (k, ts, v, d) in enumerate(changes)
        ]
        cand = {}
        for k, ts, v, rid in snap_rows:
            cand.setdefault(k, []).append(((ts, 0, rid), v, "upsert"))
        for k, ts, v, rid, op in chg_rows:
            cand.setdefault(k, []).append(((ts, 1, rid), v, op))
        want = {}
        for k, rows in cand.items():
            order, v, op = max(rows)
            if op != "delete":
                want[k] = (order[0], v, order[2])

        sdf = spark.createDataFrame(
            snap_rows or [(None, None, None, None)],
            "user_id long, ts long, value long, rid long",
        )
        if not snap_rows:
            sdf = sdf.filter("user_id IS NOT NULL")
        cdf = spark.createDataFrame(
            chg_rows or [(None, None, None, None, None)],
            "user_id long, ts long, value long, rid long, op string",
        )
        if not chg_rows:
            cdf = cdf.filter("user_id IS NOT NULL")
        got = {
            r.user_id: (r.ts, r.value, r.rid)
            for r in merge_changes(
                sdf, cdf, ["user_id"], "ts", tiebreak_cols=["rid"]
            ).collect()
        }
        assert got == want

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 2),                          # key
                st_hyp.integers(0, 9),                          # order
                st_hyp.one_of(st_hyp.none(), st_hyp.integers(0, 5)),   # attr a
                st_hyp.one_of(st_hyp.none(), st_hyp.integers(0, 5)),   # attr b
            ),
            min_size=1, max_size=14,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_survivorship_property_matches_replay(spark, rows):
        """survivorship_merge (column-level golden record) must equal a
        Python replay: per key, each attribute independently takes its
        last NON-NULL value in order, n_sources counts contributing
        rows — on random multisets with null gaps."""
        from feast_ibm_spark.operators.merge import survivorship_merge

        rows = [(k, o, i, a, b) for i, (k, o, a, b) in enumerate(rows)]
        want = {}
        for k in {r[0] for r in rows}:
            krows = sorted(r for r in rows if r[0] == k)  # (k, order, rid)
            surv = {}
            for col, idx in (("a", 3), ("b", 4)):
                nn = [r[idx] for r in krows if r[idx] is not None]
                surv[col] = nn[-1] if nn else None
            want[k] = (surv["a"], surv["b"], len(krows))

        df = spark.createDataFrame(
            rows, "k long, ord long, rid long, a long, b long"
        )
        got = {
            r.k: (r.a, r.b, r.n_sources)
            for r in survivorship_merge(
                df, ["k"], ["ord", "rid"], ["a", "b"]
            ).collect()
        }
        assert got == want


if _HAS_HYP_DEDUP:

    def _py_bpe_train(texts, n_merges):
        """Python reference of the documented trainer contract: pair
        counts sum word frequencies over ALL adjacent symbol pairs;
        winner = max freq, ties to the smallest (left, right); merges
        apply left-to-right non-overlapping."""
        from collections import Counter

        words = Counter()
        for t in texts:
            for w in t.strip().split():
                if w:
                    words[w] += 1
        seqs = {w: list(w) for w in words}
        merges = []
        for rank in range(1, n_merges + 1):
            pc = Counter()
            for w, f in words.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            (l, r), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, l, r, l + r, freq))
            for w, s in seqs.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    @given(
        token_lists=st_hyp.lists(
            st_hyp.lists(st_hyp.text(alphabet="ab", min_size=1, max_size=6),
                         min_size=1, max_size=6),
            min_size=1,
            max_size=4,
        ),
        n_merges=st_hyp.sampled_from([1, 3]),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_bpe_train_property_matches_reference(
        spark, token_lists, n_merges
    ):
        """bpe_train (per-round distributed pair count + driver argmax)
        must reproduce a Python reference BPE trainer exactly — merge
        order, symbols, and pair frequencies — on random tiny-alphabet
        corpora dense in overlapping pairs ('aaa' counting both ('a','a')
        positions but merging left-to-right non-overlapping is exactly
        where implementations diverge)."""
        from feast_ibm_spark.operators.bpe import bpe_train

        texts = [" ".join(toks) for toks in token_lists]
        want = _py_bpe_train(texts, n_merges)
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in bpe_train(df, n_merges=n_merges)
            .orderBy("rank")
            .collect()
        ]
        assert got == want


if _HAS_HYP_DEDUP:

    def _py_cdc_chunks(text, divisor):
        """Python reference of cdc_chunks' documented contract."""
        from feast_ibm_spark.operators.sampling import (
            CDC_WEIGHTS,
            CDC_WINDOW,
        )

        FP_BASE, FP_MOD = 31, 1_000_000_007
        codes = [ord(c) for c in text]
        n = len(codes)
        cuts = [
            pos for pos in range(CDC_WINDOW, n + 1)
            if sum(CDC_WEIGHTS[k] * codes[pos - 1 - k]
                   for k in range(CDC_WINDOW)) % divisor == 0
        ]
        out, start, idx = [], 1, 0
        for b in cuts:
            out.append((idx, start, b - start + 1))
            idx += 1
            start = b + 1
        if start <= n:
            out.append((idx, start, n - start + 1))
        res = []
        for idx, st, ln in out:
            h = 0
            for c in codes[st - 1: st - 1 + ln]:
                h = (h * FP_BASE + c) % FP_MOD
            res.append((idx, st, ln, h))
        return res

    @given(
        texts=st_hyp.lists(
            st_hyp.text(alphabet="abcdefgh ", min_size=0, max_size=120),
            min_size=1,
            max_size=6,
        ),
        divisor=st_hyp.sampled_from([8, 32]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_cdc_chunks_property_matches_reference(spark, texts, divisor):
        """cdc_chunks (posexplode + one doc window + per-chunk fold)
        must reproduce the Python reference chunker exactly — indices,
        offsets, lengths, and integer fingerprints — including docs
        shorter than the hash window, empty docs (no chunks), and
        boundary-at-last-char cases."""
        from feast_ibm_spark.operators.sampling import cdc_chunks

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {}
        for r in cdc_chunks(df, divisor=divisor).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_hash)
            )
        for d in got:
            got[d].sort()
        want = {
            d: _py_cdc_chunks(t, divisor)
            for d, t in enumerate(texts) if t
        }
        assert got == want

    def test_cdc_chunks_edit_stability(spark):
        """The CDC property itself: a one-character insert mid-document
        leaves every chunk outside the edit neighborhood byte-identical
        (fingerprints survive), which fixed-size chunking cannot do."""
        import random

        from feast_ibm_spark.operators.sampling import cdc_chunks

        rng = random.Random(7)
        base = "".join(rng.choice("abcdefgh ") for _ in range(2000))
        edited = base[:1000] + "Z" + base[1000:]
        df = spark.createDataFrame(
            [(0, base), (1, edited)], "doc_id long, text string"
        )
        rows = cdc_chunks(df, divisor=64).collect()
        h0 = {r.chunk_hash for r in rows if r.doc_id == 0}
        h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
        assert len(h0 & h1) >= len(h0) - 3  # only the edited neighborhood re-chunks
        assert h0 != h1  # and the edit IS visible


# ---------------------------------------------------------------------------
# privacy-audit family: k-anonymity / l-diversity censuses + suppression
# ---------------------------------------------------------------------------


def test_privacy_crafted_semantics(spark):
    """Deterministic pin of the privacy operators' edge semantics:
    NULL QI values form their own equivalence class (SQL GROUP BY
    semantics — what makes the DuckDB oracle parity exact), suppression
    keeps a NULL class that reaches k (null-safe join keys), expression
    QIs work, the output schema is the input's, and k is guarded."""
    import pytest

    from feast_ibm_spark.operators.privacy import (
        k_anonymity_census,
        l_diversity_census,
        suppress_small_classes,
    )

    rows = [
        # (zip, age, disease) — zip=None twice: the NULL class has size 2
        ("10001", 30, "flu"),
        ("10001", 30, "flu"),
        ("10001", 30, "cold"),
        ("10002", 40, "flu"),
        (None, 50, "cold"),
        (None, 50, "cold"),
    ]
    df = spark.createDataFrame(rows, "zip string, age int, disease string")

    cen = {r.class_size: (r.n_classes, r.n_records)
           for r in k_anonymity_census(df, ["zip", "age"]).collect()}
    # classes: (10001,30)x3, (10002,40)x1, (NULL,50)x2
    assert cen == {3: (1, 3), 1: (1, 1), 2: (1, 2)}

    ldiv = {r.l: r.n_classes
            for r in l_diversity_census(df, ["zip", "age"], "disease").collect()}
    # (10001,30) spans {flu,cold} -> l=2; the other two classes l=1
    assert ldiv == {2: (1), 1: 2}

    kept = suppress_small_classes(df, ["zip", "age"], k=2)
    assert kept.columns == df.columns
    got = sorted(((r.zip, r.age) for r in kept.collect()),
                 key=lambda t: (t[0] is not None, t[0] or "", t[1]))
    # the singleton (10002,40) is suppressed; the NULL class SURVIVES
    assert got == [(None, 50), (None, 50),
                   ("10001", 30), ("10001", 30), ("10001", 30)]

    # expression QI: band ages into decades -> all six rows form 3 classes
    from pyspark.sql import functions as F

    cen2 = {r.class_size: r.n_classes
            for r in k_anonymity_census(
                df, [F.floor(F.col("age") / 10)]).collect()}
    assert cen2 == {3: 1, 1: 1, 2: 1}

    with pytest.raises(ValueError):
        suppress_small_classes(df, ["zip"], k=0)
    with pytest.raises(ValueError):
        k_anonymity_census(df, [])


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st_priv

    _HAS_HYP_PRIV = True
except Exception:  # pragma: no cover
    _HAS_HYP_PRIV = False


if _HAS_HYP_PRIV:

    @given(
        rows=st_priv.lists(
            st_priv.tuples(
                st_priv.one_of(st_priv.none(), st_priv.integers(0, 3)),
                st_priv.integers(0, 2),
                # sensitive values include None: count_distinct ignores
                # NULLs in both engines, so an all-NULL class has l=0
                st_priv.one_of(st_priv.none(), st_priv.integers(0, 4)),
            ),
            min_size=1,
            max_size=40,
        ),
        k=st_priv.integers(1, 4),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_privacy_property_matches_python(spark, rows, k):
        """All three privacy operators vs a collections.Counter replay
        on random tiny tables (None QI values included on purpose: the
        Python reference groups None like any key, matching SQL GROUP
        BY and the null-safe suppression join)."""
        from collections import Counter

        from feast_ibm_spark.operators.privacy import (
            k_anonymity_census,
            l_diversity_census,
            suppress_small_classes,
        )

        df = spark.createDataFrame(rows, "a int, b int, s int")

        sizes = Counter((a, b) for a, b, _ in rows)
        want_census = Counter(sizes.values())
        got_census = {r.class_size: r.n_classes
                      for r in k_anonymity_census(df, ["a", "b"]).collect()}
        assert got_census == dict(want_census)
        got_records = {r.class_size: r.n_records
                       for r in k_anonymity_census(df, ["a", "b"]).collect()}
        assert got_records == {
            cs: cs * n for cs, n in want_census.items()
        }

        ls = Counter()
        by_class = {}
        for a, b, s in rows:
            by_class.setdefault((a, b), set())
            if s is not None:  # SQL count_distinct ignores NULLs
                by_class[(a, b)].add(s)
        for vals in by_class.values():
            ls[len(vals)] += 1
        got_l = {r.l: r.n_classes
                 for r in l_diversity_census(df, ["a", "b"], "s").collect()}
        assert got_l == dict(ls)

        def nkey(t):  # None-safe total order over optional ints
            return tuple((v is not None, v if v is not None else 0)
                         for v in t)

        want_kept = sorted(
            [(a, b, s) for a, b, s in rows if sizes[(a, b)] >= k],
            key=nkey)
        got_kept = sorted(
            ((r.a, r.b, r.s) for r in
             suppress_small_classes(df, ["a", "b"], k).collect()),
            key=nkey)
        assert got_kept == want_kept


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): both tiers vs quadratic brute force
# ---------------------------------------------------------------------------


if _HAS_HYP_PRIV:

    @given(
        rows=st_priv.lists(
            st_priv.tuples(
                st_priv.integers(0, 9),   # minimize (small domain: ties!)
                st_priv.integers(0, 6),   # maximize
            ),
            min_size=1,
            max_size=40,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_pareto_frontier_property_matches_brute_force(spark, rows):
        """Both skyline tiers vs the O(n^2) dominance definition on
        random small tables — tiny domains on purpose so duplicate
        minimize values and exact (p, s) ties are exercised (exact
        ties never dominate each other: all must survive)."""
        from feast_ibm_spark.operators.skyline import pareto_frontier_2d

        data = [(i, float(p), s) for i, (p, s) in enumerate(rows)]
        brute = {
            i for i, p, s in data
            if not any(
                q <= p and t >= s and (q < p or t > s) for _, q, t in data
            )
        }
        df = spark.createDataFrame(data, "id long, p double, s int")
        for strat in ("global_window", "bucketed", "auto"):
            got = {r.id for r in
                   pareto_frontier_2d(df, "p", "s", strat,
                                      n_buckets=4).collect()}
            assert got == brute, (strat, sorted(got), sorted(brute))


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap
# ---------------------------------------------------------------------------


def test_poisson_bootstrap_matches_python_replay(spark):
    """bootstrap_mean_ci vs a pure-Python replay of the identical
    weight stream (minstd hash -> integer Poisson CDF grid) and CI
    (sorted-element selection at integer ranks) on a crafted fixture —
    pins the full arithmetic path, including the documented w=6 tail
    truncation, independently of DuckDB."""
    from feast_ibm_spark.operators.bootstrap import (
        _A_ID, _A_REP, _GRID, _P, _POISSON_CDF_GRID, bootstrap_mean_ci,
    )

    rows = [(("a" if i % 3 else "b"), i, (i * 37) % 1000)
            for i in range(200)]
    df = spark.createDataFrame(rows, "g string, id bigint, v bigint")
    B = 41
    got = {
        r.g: (r.mean_est, r.ci_lo, r.ci_mid, r.ci_hi)
        for r in bootstrap_mean_ci(
            df, "v", ["g"], "id", n_replicates=B, ci=0.95
        ).collect()
    }

    def weight(i, b):
        u = ((i % _P) * _A_ID + b * _A_REP) % _P % _GRID
        for k, thr in enumerate(_POISSON_CDF_GRID):
            if u < thr:
                return k
        return 6

    want = {}
    for g in ("a", "b"):
        grp = [(i, v) for gg, i, v in rows if gg == g]
        means = []
        for b in range(B):
            ws = sum(weight(i, b) * v for i, v in grp)
            wn = sum(weight(i, b) for i, v in grp)
            means.append(ws / wn)
        means.sort()
        want[g] = (
            sum(v for _, v in grp) / len(grp),
            means[1], means[20], means[39],  # integer ranks at B=41
        )
    assert got == want

    # statistical sanity: the 95% CI brackets the full-sample mean here
    for g in got:
        assert got[g][1] <= got[g][0] <= got[g][3], got[g]


def test_t_closeness_crafted_and_zero_property(spark):
    """t_closeness_census vs hand-computed EMD on a crafted table, plus
    the exact-zero property the integer formulation makes literal: a
    class whose bin distribution equals the global one has t == 0.0
    EXACTLY (the integer numerator is 0 — a float p/q formulation would
    leave ulp dust)."""
    from fractions import Fraction

    from feast_ibm_spark.operators.privacy import t_closeness_census

    # class A: all mass in bin 0; class B: all mass in bin 3; 4 bins
    rows = [("A", 0)] * 3 + [("B", 3)] * 3
    df = spark.createDataFrame(rows, "g string, bin int")
    got = {r.g: (r.n, r.t)
           for r in t_closeness_census(df, ["g"], "bin", n_bins=4).collect()}
    # global q = (1/2, 0, 0, 1/2). A: p=(1,0,0,0): diffs (1/2,0,0,-1/2)
    # cums (1/2, 1/2, 1/2, 0) -> t = (3/2)/3 = 1/2. B symmetric.
    assert got == {"A": (3, 0.5), "B": (3, 0.5)}

    # exact-zero: two classes with IDENTICAL bin distributions
    rows2 = [("A", b) for b in (0, 1, 1, 3)] + [("B", b) for b in (0, 1, 1, 3)]
    df2 = spark.createDataFrame(rows2, "g string, bin int")
    got2 = {r.g: r.t
            for r in t_closeness_census(df2, ["g"], "bin", n_bins=4).collect()}
    assert got2 == {"A": 0.0, "B": 0.0}

    # cross-check one asymmetric case against a Fraction-exact replay
    rows3 = [("A", 0), ("A", 1), ("B", 2), ("B", 3), ("B", 3)]
    df3 = spark.createDataFrame(rows3, "g string, bin int")
    got3 = {r.g: r.t
            for r in t_closeness_census(df3, ["g"], "bin", n_bins=4).collect()}

    def emd(cls_bins, all_bins, m=4):
        n, nt = len(cls_bins), len(all_bins)
        t = Fraction(0)
        ccb = cgb = 0
        for b in range(m):
            ccb += sum(1 for x in cls_bins if x == b)
            cgb += sum(1 for x in all_bins if x == b)
            t += abs(Fraction(ccb, n) - Fraction(cgb, nt))
        return t / (m - 1)

    allb = [b for _, b in rows3]
    for g in ("A", "B"):
        want = emd([b for gg, b in rows3 if gg == g], allb)
        assert abs(got3[g] - float(want)) < 1e-15, (g, got3[g], want)


def test_t_closeness_emd_survives_int64_overflow(spark):
    """VERDICT r9 item 3: the EMD's n * N * (m-1) denominator exceeds
    int64 past ~10^9 rows at m=10 — at that point the r9 BIGINT
    formulation wraps silently (ANSI off) or aborts the whole census
    (ANSI on, this session). The fix promotes the numerator/denominator
    products to decimal(38,0) — exact through N ~ 10^18, loud (NULL /
    ANSI error, never a wrapped value) beyond. Pinned two ways: the
    exact cast discipline on literals AT the failure scale, and the
    decimal types in the census's own analyzed plan."""
    from feast_ibm_spark.operators.privacy import t_closeness_census

    n = 3_100_000_000  # class size where n*n*9 ~ 8.6e19 > int64 max
    dec = "decimal(38,0)"
    row = spark.range(1).select(
        (F.lit(n).cast(dec) * F.lit(n).cast(dec) * F.lit(9).cast(dec))
        .alias("d")
    ).first()
    assert int(row.d) == n * n * 9  # exact where bigint cannot be
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        spark.range(1).select(
            (F.lit(n).cast("bigint") * F.lit(n) * F.lit(9)).alias("x")
        ).first()

    # the census itself must carry the promotion (regression pin)
    df = spark.createDataFrame([("A", 0), ("A", 1), ("B", 1)],
                               "g string, bin int")
    out = t_closeness_census(df, ["g"], "bin", n_bins=2)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "decimal(38,0)" in plan
    got = {r.g: (r.n, r.t) for r in out.collect()}
    assert got["A"][0] == 2 and got["B"][0] == 1
    assert all(0.0 <= t <= 1.0 for _, t in got.values())


def test_bootstrap_review_edge_cases(spark):
    """Round-9 review findings, pinned: (a) a singleton group must not
    raise DIVIDE_BY_ZERO when a replicate's Poisson weights sum to zero
    (those replicates are dropped — the zero-resample convention);
    (b) a NULL group key is a real group in the output (null-safe final
    join); (c) negative ids get valid weights (pmod keeps the uniform
    on [0, grid); plain % would map them all to w=0)."""
    from feast_ibm_spark.operators.bootstrap import (
        _GRID, _P, _POISSON_CDF_GRID, bootstrap_mean_ci, poisson_weight_col,
    )
    from pyspark.sql import functions as F

    # (a) + (b): singleton group, NULL group, normal group
    rows = [("solo", 7, 100)] + [(None, i, 10) for i in range(50)] + [
        ("a", i + 100, i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, id bigint, v bigint")
    out = {r.g: r for r in bootstrap_mean_ci(
        df, "v", ["g"], "id", n_replicates=41).collect()}
    assert set(out) == {"solo", None, "a"}
    assert out["solo"].mean_est == 100.0
    # every surviving solo replicate mean is exactly 100
    assert out["solo"].ci_lo == out["solo"].ci_hi == 100.0
    assert out[None].mean_est == 10.0

    # (c): negative ids — weights must still follow the Poisson grid
    neg = spark.createDataFrame(
        [(-i, b) for i in range(1, 200) for b in range(5)],
        "id bigint, b int",
    ).select(poisson_weight_col("id", "b").alias("w"))
    ws = [r.w for r in neg.collect()]
    assert all(0 <= w <= 6 for w in ws)
    # plain % would give all-zero; the pmod stream must not
    assert sum(1 for w in ws if w > 0) > len(ws) * 0.4

    # and the pmod arithmetic matches the documented SQL twin
    def weight(i, b):
        u = (((i % _P) * 48271 + b * 69621) % _P + _P) % _P % _GRID
        for k, thr in enumerate(_POISSON_CDF_GRID):
            if u < thr:
                return k
        return 6

    got = {(r.id, r.b): r.w for r in spark.createDataFrame(
        [(-5, 0), (-5, 3), (-1000000, 7), (3, 1)], "id bigint, b int"
    ).select("id", "b", poisson_weight_col("id", "b").alias("w")).collect()}
    for (i, b), w in got.items():
        assert w == weight(i, b), (i, b, w, weight(i, b))


def test_t_closeness_review_edge_cases(spark):
    """Round-9 review findings, pinned: (a) a NULL-valued QI class
    matches its own bin counts (null-safe spine join — the review repro
    returned t=1.5, outside the valid [0,1] EMD range); (b) NULL and
    out-of-range bins are excluded from the census entirely (both the
    class and global distributions), keeping t well-defined; (c) no
    eager job at construction time."""
    from feast_ibm_spark.operators.privacy import t_closeness_census

    # (a) one NULL class whose distribution IS the global one -> t == 0
    df = spark.createDataFrame(
        [(None, 0), (None, 1)], "g string, bin int"
    )
    got = {r.g: (r.n, r.t)
           for r in t_closeness_census(df, ["g"], "bin", n_bins=2).collect()}
    assert got == {None: (2, 0.0)}

    # (b) invalid bins (NULL, negative, >= n_bins) drop out of n and t
    df2 = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", None), ("A", -3), ("A", 99),
         ("B", 0), ("B", 1)],
        "g string, bin int",
    )
    got2 = {r.g: (r.n, r.t)
            for r in t_closeness_census(df2, ["g"], "bin", n_bins=2).collect()}
    # valid rows: A->{0,1}, B->{0,1}: both classes equal the global
    assert got2 == {"A": (2, 0.0), "B": (2, 0.0)}
    # all t in the valid EMD range on a messier fixture
    df3 = spark.createDataFrame(
        [("A", 0)] * 5 + [("B", 1)] * 3 + [("C", None)] * 2 + [("C", 0)],
        "g string, bin int",
    )
    for r in t_closeness_census(df3, ["g"], "bin", n_bins=2).collect():
        assert 0.0 <= r.t <= 1.0, r


def test_generalization_ladder_crafted(spark):
    """generalization_ladder_census on a crafted ladder: level sizes
    known by construction; `chosen` marks exactly the FIRST level whose
    min class reaches k, residual exposure counts sub-k records, and a
    NULL QI value is its own class like the sibling censuses."""
    import pytest

    from feast_ibm_spark.operators.privacy import generalization_ladder_census
    from pyspark.sql import functions as F

    # zips 11111/11112 coarsen to prefix 1111; 22222 stands alone, and
    # one NULL zip row survives every level that keeps the column
    rows = ([("11111",)] * 2 + [("11112",)] * 2 + [("22222",)] * 3
            + [(None,)] * 3)
    df = spark.createDataFrame(rows, "zip string")
    ladder = [
        [F.col("zip")],                      # classes 2/2/3/3 -> min 2
        [F.substring("zip", 1, 4)],          # classes 4/3/3   -> min 3
        [F.lit("*")],                        # one class of 10
    ]
    got = {r.level: r for r in
           generalization_ladder_census(df, ladder, k=3).collect()}
    assert (got[0].n_classes, got[0].min_class,
            got[0].n_records_below_k) == (4, 2, 4)
    assert (got[1].n_classes, got[1].min_class,
            got[1].n_records_below_k) == (3, 3, 0)
    assert got[2].min_class == 10
    assert [got[i].meets_k for i in range(3)] == [False, True, True]
    assert [got[i].chosen for i in range(3)] == [False, True, False]

    with pytest.raises(ValueError):
        generalization_ladder_census(df, [], k=3)
    with pytest.raises(ValueError):
        generalization_ladder_census(df, ladder, k=0)


# --- hypothesis property nets for the remaining graph ops (VERDICT r9
# item 5: the pattern keeps finding real bugs — bootstrap pmod and
# t-closeness NULL bins were both caught by nets like these) ----------------

if _HAS_HYP_DEDUP:

    def _py_canonical_edges(edges):
        return {(min(a, b), max(a, b)) for a, b in edges if a != b}

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 7), st_hyp.integers(0, 7)),
            min_size=1, max_size=24,
        ),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_triangles_property_match_brute_force(spark, edges):
        """triangle_counts (degree-ordered orientation) must equal the
        brute per-node triangle census on random multigraphs with
        self-loops, duplicate and reversed edges (all collapse into the
        canonical undirected simple graph by contract)."""
        from itertools import combinations

        from feast_ibm_spark.operators.graph import triangle_counts

        e = _py_canonical_edges(edges)
        nodes = sorted({n for ab in e for n in ab})
        want: dict[int, int] = {}
        for x, y, z in combinations(nodes, 3):
            if ({(x, y), (x, z), (y, z)} <= e):
                for n in (x, y, z):
                    want[n] = want.get(n, 0) + 1

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        got = {r.node: r.n_triangles
               for r in triangle_counts(df).collect()}
        assert got == want

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 7), st_hyp.integers(0, 7)),
            min_size=1, max_size=24,
        ),
        k=st_hyp.sampled_from([2, 3]),
        rounds=st_hyp.sampled_from([1, 4]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_kcore_property_matches_python_replay(spark, edges, k, rounds):
        """kcore_peel is a FIXED-round peel (pure function of edge set,
        k, rounds): a Python replay of the same rounds — degree census,
        drop below-k nodes, drop their edges — must match exactly,
        including the not-yet-converged intermediate states at
        rounds=1."""
        from feast_ibm_spark.operators.graph import kcore_peel

        e = _py_canonical_edges(edges)
        for _ in range(rounds):
            deg: dict[int, int] = {}
            for a, b in e:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            e = {(a, b) for a, b in e if a in keep and b in keep}
        want: dict[int, int] = {}
        for a, b in e:
            want[a] = want.get(a, 0) + 1
            want[b] = want.get(b, 0) + 1

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        got = {r.node: r.core_deg
               for r in kcore_peel(df, k=k, rounds=rounds).collect()}
        assert got == want

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 7), st_hyp.integers(0, 7)),
            min_size=1, max_size=24,
        ),
        seeds=st_hyp.lists(st_hyp.integers(0, 7), min_size=1, max_size=3),
        iterations=st_hyp.sampled_from([1, 3]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_personalized_pagerank_property_matches_python_reference(
        spark, edges, seeds, iterations
    ):
        """personalized_pagerank is the same engine-exact integer
        recurrence as the global one but with teleport mass confined to
        the seed set: a pure-Python replay must match to the last unit
        on random multigraphs (duplicate edges count toward out-degree
        and contribute once per edge; seeds outside the graph's node
        set are dropped; unreachable nodes stay at exactly 0)."""
        from feast_ibm_spark.operators.graph import (
            PR_D_DEN,
            PR_D_NUM,
            PR_SCALE,
            personalized_pagerank,
        )

        nodes = sorted({n for ab in edges for n in ab})
        seed_set = set(seeds) & set(nodes)
        deg: dict[int, int] = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        tel = (15 * PR_SCALE) // 100
        score = {n: (PR_SCALE if n in seed_set else 0) for n in nodes}
        for _ in range(iterations):
            mass = {n: 0 for n in nodes}
            for s, d in edges:
                mass[d] += (PR_D_NUM * score[s]) // (PR_D_DEN * deg[s])
            score = {
                n: (tel if n in seed_set else 0) + mass[n] for n in nodes
            }

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
        got = {r.node: r.score_scaled
               for r in personalized_pagerank(df, sdf, iterations).collect()}
        assert got == score

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 7), st_hyp.integers(0, 7)),
            min_size=1, max_size=24,
        ),
        seeds=st_hyp.lists(st_hyp.integers(0, 7), min_size=1, max_size=3),
        max_hops=st_hyp.sampled_from([0, 1, 3]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_bfs_levels_property_matches_python_reference(
        spark, edges, seeds, max_hops
    ):
        """bfs_levels must equal a Python level-synchronous BFS on
        random DIRECTED multigraphs (duplicate edges and self-loops
        collapse; edges are followed src->dst only): first-discovery
        level == shortest hop distance, sources pinned at 0 even when
        absent from the edge list, unreachable nodes absent."""
        from feast_ibm_spark.operators.graph import bfs_levels

        adj: dict[int, set[int]] = {}
        for s, d in edges:
            adj.setdefault(s, set()).add(d)
        want = {n: 0 for n in set(seeds)}
        frontier = set(seeds)
        for h in range(1, max_hops + 1):
            nxt = {d for s in frontier for d in adj.get(s, ())} - set(want)
            for n in nxt:
                want[n] = h
            frontier = nxt

        df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
        got = {r.node: r.lvl
               for r in bfs_levels(df, sdf, max_hops=max_hops).collect()}
        assert got == want

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 2),            # key
                st_hyp.integers(-5, 5),           # value
                st_hyp.integers(-1, 4),           # weight (incl. invalid)
            ),
            min_size=1, max_size=24,
        ),
        q=st_hyp.sampled_from([(1, 2), (1, 4), (9, 10), (1, 1)]),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_weighted_quantile_property_matches_python_replay(
        spark, rows, q
    ):
        """weighted_quantile_by_key must equal the textbook lower
        weighted quantile — smallest v with cumweight(v) >= q*W — on
        random multisets with duplicate values, duplicate keys, and
        zero/negative weights (excluded by contract). Cross-checked via
        Fraction arithmetic so the replay itself has no float step."""
        from fractions import Fraction

        from feast_ibm_spark.operators.weighted_stats import (
            weighted_quantile_by_key,
        )

        q_num, q_den = q
        valid = [(k, v, w) for k, v, w in rows if w > 0]
        want = {}
        keys = {k for k, _, _ in valid}
        for k in keys:
            agg: dict[int, int] = {}
            for kk, v, w in valid:
                if kk == k:
                    agg[v] = agg.get(v, 0) + w
            total = sum(agg.values())
            cum = 0
            sel = None
            for v in sorted(agg):
                cum += agg[v]
                if Fraction(cum, total) >= Fraction(q_num, q_den):
                    sel = v
                    break
            want[k] = (total, sel)

        df = spark.createDataFrame(rows, "k bigint, v bigint, w bigint")
        got = {r.k: (r.total_weight, r.wq)
               for r in weighted_quantile_by_key(
                   df, ["k"], "v", "w", q_num=q_num, q_den=q_den
               ).collect()}
        assert got == want


def test_weighted_quantile_fractional_weights_truncate_to_exclusion(spark):
    """ADVICE r10: the positivity filter must run on the CASTED weight.
    A fractional weight in (0, 1) truncates to 0 and counts nothing —
    'a 0.4 weight counts 0' per the docstring — so a key whose weights
    are ALL fractional is EXCLUDED (previously it slipped past the
    pre-cast filter with total_weight=0 and emitted a bogus
    wq=min(value) row), and mixed keys count only the integer part."""
    from feast_ibm_spark.operators.weighted_stats import (
        weighted_quantile_by_key,
    )

    df = spark.createDataFrame(
        [("all_frac", 1, 0.4), ("all_frac", 2, 0.9),
         ("mixed", 10, 0.7), ("mixed", 20, 2.4), ("mixed", 30, 1.0)],
        "k string, v bigint, w double",
    )
    got = {r.k: (r.total_weight, r.wq)
           for r in weighted_quantile_by_key(df, ["k"], "v", "w").collect()}
    # all_frac: every weight truncates to 0 -> key absent, no bogus row
    # mixed: weights (0, 2, 1) -> W=3, median at cum>=1.5 -> v=20
    assert got == {"mixed": (3, 20)}


def test_pareto_auto_picks_tier_by_distinct_count(spark, monkeypatch):
    """strategy='auto' counts the stage-1 reduction (|distinct
    minimize|) and switches at AUTO_DISTINCT_THRESHOLD: both branches
    must return the identical frontier (forced by monkeypatching the
    threshold to 1 so the tiny fixture takes the bucketed branch)."""
    from feast_ibm_spark.operators import skyline as sk

    df = spark.createDataFrame(
        [(1, 1.0, 5), (2, 2.0, 9), (3, 2.0, 9), (4, 3.0, 1)],
        "id long, p double, s int",
    )
    want = {r.id for r in
            sk.pareto_frontier_2d(df, "p", "s", "global_window").collect()}
    got_auto = {r.id for r in
                sk.pareto_frontier_2d(df, "p", "s", "auto").collect()}
    assert got_auto == want  # below threshold -> global_window branch
    monkeypatch.setattr(sk, "AUTO_DISTINCT_THRESHOLD", 1)
    got_forced = {r.id for r in
                  sk.pareto_frontier_2d(df, "p", "s", "auto",
                                        n_buckets=4).collect()}
    assert got_forced == want  # forced bucketed branch, same frontier


if _HAS_HYP_DEDUP:

    @given(
        vecs=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 2),                      # label
                st_hyp.lists(st_hyp.integers(-3, 3),        # exact-in-
                             min_size=3, max_size=3),       # float32 dims
            ),
            min_size=3, max_size=12,
        ),
        k=st_hyp.sampled_from([1, 2]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_retrieval_rank_stats_property_matches_python(spark, vecs, k):
        """retrieval_rank_stats vs a pure-Python replay: small
        integer-valued vectors are exactly representable in float32, and
        the replay reproduces Spark's sequential left-to-right fold, so
        cosine doubles — and therefore the (cosine desc, id) ranking —
        agree bit-for-bit. Zero vectors give NULL/NaN cosine rows on
        both sides; relevance = same label; queries = first two ids."""
        from feast_ibm_spark.operators.similarity import retrieval_rank_stats

        # drop all-zero vectors: cosine undefined (NaN) — out of contract
        data = [(i, lab, [float(x) for x in v])
                for i, (lab, v) in enumerate(vecs)
                if any(x != 0 for x in v)]
        if len(data) < 3:
            return
        q_ids = [data[0][0], data[1][0]]

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y  # same left-to-right fold as F.aggregate
            return acc

        want = {}
        for qi, qlab, qv in (r for r in data if r[0] in q_ids):
            scored = sorted(
                (
                    (-dot(qv, v) / ((dot(qv, qv) ** 0.5) * (dot(v, v) ** 0.5)),
                     i, lab)
                    for i, lab, v in data if i != qi
                ),
            )
            n_rel = sum(1 for _, _, lab in scored if lab == qlab)
            first = next((r + 1 for r, (_, _, lab) in enumerate(scored)
                          if lab == qlab), None)
            hits = sum(1 for r, (_, _, lab) in enumerate(scored)
                       if r < k and lab == qlab)
            want[qi] = (qlab, n_rel, first, hits)

        df = spark.createDataFrame(
            [(i, lab, v) for i, lab, v in data],
            "vec_id bigint, label int, embedding array<float>",
        )
        queries = df.filter(F.col("vec_id").isin(q_ids))
        got = {r.q_vec_id: (r.q_label, r.n_relevant, r.first_hit_rank,
                            r.hits_at_k)
               for r in retrieval_rank_stats(df, queries, k=k).collect()}
        assert got == want

    @given(
        rows_a=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 4), st_hyp.integers(0, 9),
                          st_hyp.booleans()),  # (key, payload, is_delta)
            min_size=0, max_size=16,
        ),
        rows_b=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 4), st_hyp.integers(0, 9),
                          st_hyp.booleans()),
            min_size=0, max_size=16,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_join_delta_property_matches_full_recompute(
        spark, rows_a, rows_b
    ):
        """join_delta's three-term expansion: old_view UNION ALL dJ must
        equal the full inner join of (A u dA) x (B u dB) as a MULTISET —
        on random tables with duplicate keys and duplicate rows, any
        missing/duplicated/overlapping term breaks the bag equality.
        Replay is a pure-Python bag join."""
        from collections import Counter

        from feast_ibm_spark.operators.incremental import join_delta

        full_a = [(k, v) for k, v, _ in rows_a]
        full_b = [(k, v) for k, v, _ in rows_b]
        want = Counter(
            (k, va, vb)
            for k, va in full_a for k2, vb in full_b if k == k2
        )

        mk = lambda rows, col: spark.createDataFrame(
            [(k, v) for k, v in rows] or [(None, None)],
            f"k bigint, {col} bigint",
        ).filter(F.col("k").isNotNull())
        base_a = mk([(k, v) for k, v, d in rows_a if not d], "va")
        delta_a = mk([(k, v) for k, v, d in rows_a if d], "va")
        base_b = mk([(k, v) for k, v, d in rows_b if not d], "vb")
        delta_b = mk([(k, v) for k, v, d in rows_b if d], "vb")

        old_view = base_a.join(base_b, ["k"])
        refreshed = old_view.unionByName(
            join_delta(base_a, delta_a, base_b, delta_b, ["k"])
        )
        got = Counter((r.k, r.va, r.vb) for r in refreshed.collect())
        assert got == want

    @given(
        docs=st_hyp.lists(
            st_hyp.lists(st_hyp.sampled_from(["aa", "bb", "cc", "dd", "e"]),
                         min_size=1, max_size=8),
            min_size=1, max_size=10,
        ),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_cms_heavy_hitters_property_matches_python(spark, tmp_path_factory, docs):
        """The CMS pipeline (poly token hash -> d x w integer counters
        -> min-over-rows estimate) vs a pure-Python replica of the
        full pipeline at the query's real parameters, driven from the
        same raw token stream. Invariants: estimate >= exact always
        (one-sided CMS error), and bit-for-bit equal to the replica —
        including the deterministic (count desc, token) top-20 cut."""
        from feast_ibm_spark.functions.text import FP_BASE, FP_MOD
        from feast_ibm_spark.queries.text import (
            CMS_A,
            CMS_P,
            q_text_cms_heavy_hitters,
        )

        # pure-Python replica of the QUERY's full pipeline at its real
        # parameters, driven from the same raw token stream
        texts = [" ".join(d) for d in docs]
        toks = [t for d in docs for t in d]
        exact: dict[str, int] = {}
        for t in toks:
            exact[t] = exact.get(t, 0) + 1

        def fp(tok: str) -> int:
            acc = 0
            for ch in tok:
                acc = (acc * FP_BASE + ord(ch)) % FP_MOD
            return acc

        counters: dict[tuple[int, int], int] = {}
        for t, n in exact.items():
            for j, a in enumerate(CMS_A):
                b = ((fp(t) * a) % CMS_P) % 1024
                counters[(j, b)] = counters.get((j, b), 0) + n
        top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        want = {}
        for t, n in top:
            est = min(
                counters[(j, ((fp(t) * a) % CMS_P) % 1024)]
                for j, a in enumerate(CMS_A)
            )
            want[t] = (n, est)
            assert est >= n  # CMS one-sided error

        import os

        d = str(tmp_path_factory.mktemp("cms_net"))
        spark.createDataFrame(
            [(i, x, "en", "net", len(x)) for i, x in enumerate(texts)],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = {r.token: (r.exact_count, r.cms_estimate)
               for r in q_text_cms_heavy_hitters(spark, d).collect()}
        assert got == want


# --- round-11 property nets: SSSP, interval merge, CUSUM ------------------

if _HAS_HYP_DEDUP:

    @given(
        edges=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 6),        # src
                st_hyp.integers(0, 6),        # dst
                st_hyp.integers(1, 9),        # weight (positive)
            ),
            min_size=1, max_size=20,
        ),
        seeds=st_hyp.lists(st_hyp.integers(0, 6), min_size=1, max_size=2),
        max_hops=st_hyp.sampled_from([0, 1, 3]),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_sssp_hops_property_matches_python_bellman_ford(
        spark, edges, seeds, max_hops
    ):
        """sssp_hops must equal a Python hop-bounded Bellman-Ford on
        random weighted DIRECTED multigraphs (parallel edges keep the
        cheapest, self-loops never improve): after round h, cost is
        the exact minimum over paths of <= h edges; sources at 0;
        unreachable nodes absent. The replay relaxes EVERY edge each
        round (no frontier optimization), so it also proves the
        operator's frontier pruning drops nothing."""
        from feast_ibm_spark.operators.graph import sssp_hops

        dist = {s: 0 for s in set(seeds)}
        for _ in range(max_hops):
            nxt = dict(dist)
            for s, d, w in edges:
                if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                    nxt[d] = dist[s] + w
            dist = nxt
        df = spark.createDataFrame(
            list(edges), "src bigint, dst bigint, weight bigint"
        )
        sdf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
        got = {r.node: r.cost
               for r in sssp_hops(df, sdf, max_hops=max_hops).collect()}
        assert got == dist

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 2),        # key
                st_hyp.integers(0, 20),       # start
                st_hyp.integers(0, 10),       # length
            ),
            min_size=1, max_size=24,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_merge_intervals_property_matches_python_sweep(spark, rows):
        """merge_intervals must equal the textbook sweep merge
        (sort by start; extend the island while start <= running max
        end, inclusive/touching endpoints) on random interval multisets
        with duplicates, ties, nesting, and zero-length intervals."""
        from feast_ibm_spark.operators.interval import merge_intervals

        ivals = [(k, s, s + ln) for k, s, ln in rows]
        want = set()
        for k in {k for k, _, _ in ivals}:
            mine = sorted(
                [(s, e) for kk, s, e in ivals if kk == k]
            )
            islands = []
            for s, e in mine:
                if islands and s <= islands[-1][1]:
                    islands[-1][1] = max(islands[-1][1], e)
                    islands[-1][2] += 1
                else:
                    islands.append([s, e, 1])
                islands[-1][0] = min(islands[-1][0], s)
            for s, e, n in islands:
                want.add((k, s, e, n))

        df = spark.createDataFrame(ivals, "k bigint, s bigint, e bigint")
        got = {
            (r.k, r.island_start, r.island_end, r.n_merged)
            for r in merge_intervals(df, ["k"], "s", "e").collect()
        }
        assert got == want

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 1),          # key
                st_hyp.integers(-50, 50),       # cents
            ),
            min_size=1, max_size=20,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_cusum_changepoint_property_matches_python(spark, tmp_path_factory, rows):
        """The CUSUM argmax |n*S_k - k*S_n| (earliest k on exact ties)
        replayed in pure Python integers on random per-key series. The
        query under test is the registered one run over a parquet
        events fixture, so the whole chain — cents cast, windows,
        tie-break — is exercised, not just the formula."""
        import shutil

        from feast_ibm_spark.queries import QUERIES

        series: dict[int, list[int]] = {}
        data = []
        for i, (k, c) in enumerate(rows):
            series.setdefault(k, []).append(c)
            data.append(
                (k, i, f"2024-01-01 00:{i:02d}:00", c / 100.0, "t")
            )
        want = {}
        for k, cs in series.items():
            n, s_n = len(cs), sum(cs)
            best = None
            cum = 0
            for idx, c in enumerate(cs, start=1):
                cum += c
                dev = abs(n * cum - idx * s_n)
                if best is None or dev > best[1]:
                    best = (idx, dev)
            want[k] = (n, best[0], best[1])

        d = str(tmp_path_factory.mktemp("cusum_net"))
        try:
            spark.createDataFrame(
                data, "user_id bigint, event_id bigint, ts string, "
                      "value double, event_type string"
            ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
                "overwrite"
            ).parquet(d + "/events.parquet")
            got = {
                r.user_id: (r.n, r.cp_k, r.cp_dev)
                for r in QUERIES["trend_cusum_changepoint"].fn(
                    spark, d
                ).collect()
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
        assert got == want


if _HAS_HYP_DEDUP:

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 2),                    # key
                st_hyp.sampled_from(["a", "b", "c"]),     # value
            ),
            min_size=1, max_size=24,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_mode_exact_property_matches_python(spark, tmp_path_factory, rows):
        """agg_mode_exact's tie rule (highest count, lexicographically
        smallest value) replayed in Python on random multisets — SQL's
        mode() leaves ties undefined; this one must not."""
        import shutil

        from feast_ibm_spark.queries import QUERIES

        want = {}
        per_key: dict[int, dict[str, int]] = {}
        for k, v in rows:
            per_key.setdefault(k, {})
            per_key[k][v] = per_key[k].get(v, 0) + 1
        for k, cnt in per_key.items():
            mode = min(cnt, key=lambda v: (-cnt[v], v))
            want[k] = (mode, cnt[mode], sum(cnt.values()))

        d = str(tmp_path_factory.mktemp("mode_net"))
        try:
            spark.createDataFrame(
                [(k, i, "2024-01-01 00:00:00", 1.0, v)
                 for i, (k, v) in enumerate(rows)],
                "user_id bigint, event_id bigint, ts string, "
                "value double, event_type string",
            ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
                "overwrite"
            ).parquet(d + "/events.parquet")
            got = {
                r.user_id: (r.mode_event_type, r.mode_n, r.n_total)
                for r in QUERIES["agg_mode_exact"].fn(spark, d).collect()
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
        assert got == want


if _HAS_HYP_DEDUP:

    @given(
        ops=st_hyp.lists(
            st_hyp.tuples(
                st_hyp.integers(0, 3),
                st_hyp.lists(
                    st_hyp.tuples(st_hyp.integers(0, 9),
                                  st_hyp.integers(0, 100)),
                    min_size=1, max_size=4,
                ),
            ),
            min_size=1, max_size=6,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_snapshot_lifecycle_property_matches_replay(spark, tmp_path_factory, ops):
        """VERDICT r11 item 7: brute-force replay net for the snapshot
        table's full mutation surface. Random op sequences —
        append / MOR key-tombstone delete / copy-on-write MERGE
        (upserts+deletes) / certified compaction — against a
        pure-Python model: physical rows + live tombstone set, where
        reads suppress tombstoned keys, MERGE applies to the
        suppressed view and clears tombstones (overwrite commit), and
        compaction materializes suppressions and clears tombstones.
        Final read_snapshot content must equal the model's visible
        view exactly."""
        import shutil

        from feast_ibm_spark.sources.snapshots import (
            compact_snapshots,
            delete_snapshot_keys,
            merge_snapshot,
            read_snapshot,
            snapshot_versions,
            write_snapshot,
        )

        physical: dict[int, int] = {}
        tombs: set[int] = set()

        def visible() -> dict[int, int]:
            return {k: v for k, v in physical.items() if k not in tombs}

        d = str(tmp_path_factory.mktemp("snap_net"))
        tbl = d + "/tbl"
        mk = lambda rows, schema="k bigint, v bigint": spark.createDataFrame(
            rows, schema)
        try:
            committed = False
            for code, pairs in ops:
                if code == 0:  # append rows for keys not physically present
                    fresh = {k: v for k, v in pairs if k not in physical}
                    if not fresh:
                        continue
                    write_snapshot(mk(sorted(fresh.items())), tbl)
                    physical.update(fresh)
                    committed = True
                elif not committed:
                    continue  # delete/merge/compact need a first commit
                elif code == 1:  # MOR tombstones (suppress, carry forward)
                    keys = sorted({k for k, _ in pairs})
                    delete_snapshot_keys(
                        mk([(k,) for k in keys], "k bigint"), tbl, ["k"])
                    tombs.update(keys)
                elif code == 2:  # copy-on-write MERGE on the suppressed view
                    upd = {}
                    for k, v in pairs:  # merge requires unique keys
                        upd.setdefault(k, (v, v % 3 == 0))
                    rows = [(k, v, dl) for k, (v, dl) in sorted(upd.items())]
                    merge_snapshot(
                        mk(rows, "k bigint, v bigint, is_del boolean"),
                        tbl, ["k"], delete_col="is_del")
                    vis = visible()
                    for k, (v, dl) in upd.items():
                        if dl:
                            vis.pop(k, None)
                        else:
                            vis[k] = v
                    physical, tombs = vis, set()
                else:  # certified compaction: materialize + clear
                    # tombstones; the drawn pair steers plain vs
                    # range-CLUSTERED (round 12b) — the rewrite is a
                    # physical reorder, so the model is identical
                    k0, v0 = pairs[0]
                    if k0 % 2:
                        compact_snapshots(spark, tbl, sort_by="v",
                                          target_segments=1 + (v0 % 4))
                    else:
                        compact_snapshots(spark, tbl)
                    physical, tombs = visible(), set()
            if committed:
                got = {r.k: r.v for r in read_snapshot(spark, tbl).collect()}
                n = read_snapshot(spark, tbl).count()
                assert n == len(got), "duplicate keys leaked into the table"
                assert got == visible()
                assert len(snapshot_versions(tbl)) >= 1
        finally:
            shutil.rmtree(d, ignore_errors=True)


if _HAS_HYP_DEDUP:

    @given(
        rows=st_hyp.lists(
            st_hyp.tuples(st_hyp.integers(0, 2),   # user
                          st_hyp.integers(1, 8),   # day-of-month
                          st_hyp.integers(1, 3)),  # events that day-slot
            min_size=1, max_size=25,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_mann_kendall_property_matches_replay(spark, tmp_path_factory, rows):
        """trend_mann_kendall must reproduce a brute-force Python
        Mann-Kendall over the daily count series exactly — S, the
        concordant/discordant/tied pair counts, and the identity
        S = concordant - discordant — on random multi-user event sets
        with repeated days (the daily aggregation collapses them) and
        single-day users (no pairs: absent from the output)."""
        import shutil

        from feast_ibm_spark.queries import QUERIES

        rows_full = [
            (u, 1000 + 10 * u + i, f"2024-01-{d:02d} 12:00:00", 1.0, "view")
            for i, (u, d, k) in enumerate(rows)
            for _ in range(k)
        ]
        # python replay: daily counts then all day pairs
        daily = {}
        for u, d, k in rows:
            daily.setdefault(u, {})
            daily[u][d] = daily[u].get(d, 0) + k
        want = {}
        for u, series in daily.items():
            days = sorted(series)
            if len(days) < 2:
                continue
            c = d_ = t = 0
            for i in range(len(days)):
                for j in range(i + 1, len(days)):
                    diff = series[days[j]] - series[days[i]]
                    if diff > 0:
                        c += 1
                    elif diff < 0:
                        d_ += 1
                    else:
                        t += 1
            want[u] = (c - d_, c, d_, t)

        d = str(tmp_path_factory.mktemp("mk_net"))
        try:
            spark.createDataFrame(
                [(u, eid, ts, v, et) for (u, eid, ts, v, et) in
                 [(r[0], i, r[2], r[3], r[4])
                  for i, r in enumerate(rows_full)]],
                "user_id bigint, event_id bigint, ts string, "
                "value double, event_type string",
            ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
                "overwrite"
            ).parquet(d + "/events.parquet")
            got = {
                r.user_id: (r.s_stat, r.n_concordant, r.n_discordant,
                            r.n_tied)
                for r in QUERIES["trend_mann_kendall"].fn(spark, d).collect()
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
        assert got == want
        for s, c, d_, _t in got.values():
            assert s == c - d_
