"""Tests for the LLM-pipeline extension operators: dedup recall,
similarity-search recall vs brute force, multimodal plumbing, text
analysis edge cases."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.operators import dedup, multimodal, similarity, text as TX

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    from dat_archive_map_reduce_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    from dat_archive_map_reduce_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").cache()


def test_portable_minhash_recall_and_no_false_positives(documents):
    """The md5-string MinHash family obeys the LSH contract: verified
    output is a subset of the exact jaccard>=0.5 pairs, with high recall
    (4 bands x 2 rows: collision prob at s=0.5 is 1-(1-0.25)^4 ~ 0.68
    per true pair, but true pairs here sit well above threshold)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(documents, "text", "doc_id", 3, 0.5).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in dedup.portable_minhash_pairs(documents, "text", "doc_id").collect()
    }
    assert found <= exact
    if exact:
        assert len(found & exact) / len(exact) >= 0.8


def test_portable_simhash_contract(spark, documents):
    """The md5-vote SimHash obeys the SimHash contract: verified
    distances respect the bound, identical docs collide at distance 0,
    and the pair count stays small (signatures must NOT collapse to
    one point — the distinct-token formulation did, emitting thousands
    of spurious pairs)."""
    pairs = dedup.portable_simhash_pairs(documents, "text", "doc_id").collect()
    for r in pairs:
        assert r["hamming"] <= 3
    assert len(pairs) < 100
    dup = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "alpha beta alpha gamma")],
        "doc_id long, text string",
    )
    s = dedup.portable_simhash_pairs(dup, "text", "doc_id").collect()
    assert len(s) == 1 and s[0]["hamming"] == 0


def test_kmv_estimate_within_tolerance(spark, documents):
    """The portable KMV sketch estimates distinct counts within the
    theoretical ~1/sqrt(k) relative error band (k=256 -> ~6%; assert
    15% for slack) and falls back to exact when distinct < k."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    est = QUERIES["approx_distinct_portable"](spark, sf).first()["approx_parts"]
    from dat_archive_map_reduce_spark.sources.tables import load_table

    exact = load_table(spark, sf, "lineitem").select("l_partkey").distinct().count()
    assert abs(est - exact) / exact < 0.15


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_portable_lsh_topk_recall(embeddings):
    """Multi-probe sign LSH with md5-Rademacher planes on RANDOM
    64-dim vectors, the documented worst case for signed random
    projections: the true top-10 sit at cosine ~0.5 (60 deg), so
    per-plane agreement is only ~2/3 and deep multi-probe is needed.
    Real embedding corpora (clustered) sit far up the S-curve. Pins
    >=4/10 recall as the regression floor, and candidates ranked by
    exact cosine."""
    qvec = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(corpus, qvec, k=10).collect()]
    rows = similarity.portable_lsh_topk(
        corpus, qvec, k=10, num_planes=8, probe_hamming=4
    ).collect()
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len(set(r["vec_id"] for r in rows) & set(exact)) >= 4


def test_ivf_topk_recall(embeddings):
    qvec = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    cents = similarity.train_centroids(corpus, n_clusters=8)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(corpus, qvec, k=10).collect()]
    approx = [
        r["vec_id"] for r in similarity.ivf_topk(corpus, qvec, cents, k=10, n_probe=3).collect()
    ]
    assert len(set(approx) & set(exact)) >= 3


def test_portable_ivf_topk_recall(embeddings):
    """The data-point-codebook IVF twin returns exact-cosine-ranked
    results from its probed clusters and overlaps the true top-10.
    With 8 random centroids and n_probe=4 (half the codebook) on
    random vectors, expected candidate coverage is ~50%, so >=3/10
    is a safe regression floor."""
    qvec = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = embeddings.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(corpus, qvec, k=10).collect()]
    rows = similarity.portable_ivf_topk(corpus, qvec, n_probe=4, k=10).collect()
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len(set(r["vec_id"] for r in rows) & set(exact)) >= 3


def test_multimodal_decode_and_features(spark):
    media = multimodal.synth_media_corpus(spark, n=30)
    decoded = multimodal.decode_media(media)
    assert decoded.count() == 30
    row = decoded.filter(F.col("kind") == "video").first()
    assert row["n_frames"] >= 1 and row["width"] >= 8
    feats = multimodal.extract_features(media, dim=16).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    norms = [float(np.linalg.norm(r["features"])) for r in feats]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_multimodal_frame_sample_and_resize(spark):
    media = multimodal.synth_media_corpus(spark, n=30)
    frames = multimodal.frame_sample(media, every_nth=5)
    per_vid = frames.groupBy("media_id").count().collect()
    assert per_vid and all(r["count"] >= 1 for r in per_vid)
    plan = multimodal.resize_plan(media, max_side=32).collect()
    for r in plan:
        assert max(r["target_w"], r["target_h"]) <= 32
        assert r["target_w"] <= r["width"] and r["target_h"] <= r["height"]


def test_multimodal_stub_raises_only_on_codec_library_formats(spark):
    # container formats still need external codec libs -> raise
    with pytest.raises(NotImplementedError):
        multimodal._decode_header(b"\x00\x00\x00 ftypisom mp4 garbage")
    # PNG decodes for real now: a malformed stream is a VALUE error
    # from the chunk walk, never a stub raise
    with pytest.raises(ValueError):
        multimodal._decode_header(b"\x89PNG\r\n\x1a\n garbage")


def test_png_header_path_rejects_exactly_what_decode_rejects():
    """Metadata (_decode_header) and full decode share the IHDR
    validation: a 16-bit / palette / interlaced PNG is ValueError in
    BOTH stages — it must never pass metadata as (w, h, 1) and then
    fail mid-pipeline at full decode."""
    import struct as _s
    import zlib as _z

    def png_with_ihdr(depth, color, interlace):
        ihdr = _s.pack(">IIBBBBB", 8, 8, depth, color, 0, 0, interlace)
        chans = {0: 1, 2: 3, 3: 1}[color]
        stride = 8 * chans * (2 if depth == 16 else 1)
        raw = b"".join(b"\x00" + b"\x00" * stride for _ in range(8))
        out = b"\x89PNG\r\n\x1a\n"
        for tag, data in ((b"IHDR", ihdr), (b"IDAT", _z.compress(raw)), (b"IEND", b"")):
            crc = _z.crc32(tag + data) & 0xFFFFFFFF
            out += _s.pack(">I", len(data)) + tag + data + _s.pack(">I", crc)
        return out

    for depth, color, interlace in ((16, 0, 0), (8, 3, 0), (8, 0, 1)):
        buf = png_with_ihdr(depth, color, interlace)
        with pytest.raises(ValueError):
            multimodal._decode_header(buf)
        with pytest.raises(ValueError):
            multimodal.decode_png(buf)
    # and the valid case still passes the shared check
    good = png_with_ihdr(8, 0, 0)
    assert multimodal._decode_header(good) == (8, 8, 1)


def test_ppm_codec_roundtrip_with_comments():
    """Real PPM decode: roundtrip, plus the header grammar corners a
    naive split-based parser misses — # comments between any tokens,
    mixed whitespace runs."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=3 * 5 * 4, dtype=np.int64).astype(np.uint8)
    buf = multimodal.encode_ppm(5, 4, px)
    w, h, maxval, got = multimodal.decode_ppm(buf)
    assert (w, h, maxval) == (5, 4, 255)
    assert np.array_equal(got, px)
    # hand-built header with comments and CRLF-ish whitespace
    hairy = b"P6 # netpbm allows comments\n  5\t# width done\n 4\n255\n" + px.tobytes()
    w, h, maxval, got = multimodal.decode_ppm(hairy)
    assert (w, h) == (5, 4) and np.array_equal(got, px)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n5 4\n255\n" + px.tobytes())  # PGM, not PPM
    with pytest.raises(ValueError):
        multimodal.decode_ppm(buf[:-3])  # truncated pixels


def test_wav_codec_roundtrip_with_extra_chunks():
    """Real WAV decode: roundtrip, proper chunk WALK (unknown LIST
    chunk before data, odd-size pad byte), and non-PCM rejection."""
    import struct as st

    samples = (np.arange(101, dtype=np.int64) * 13 % 4096 - 2048).astype(np.int16)
    buf = multimodal.encode_wav(12345, samples)
    sr, nch, got = multimodal.decode_wav(buf)
    assert (sr, nch) == (12345, 1) and np.array_equal(got, samples)
    # splice an odd-sized LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + st.pack("<I", 5) + b"INFOx" + b"\x00"  # padded to even
    spliced = buf[:fmt_end] + extra + buf[fmt_end:]
    spliced = b"RIFF" + st.pack("<I", len(spliced) - 8) + spliced[8:]
    sr, nch, got = multimodal.decode_wav(spliced)
    assert sr == 12345 and np.array_equal(got, samples)
    with pytest.raises(ValueError):
        bad = bytearray(buf)
        bad[20] = 3  # IEEE float codec tag
        multimodal.decode_wav(bytes(bad))


def test_jpeg_codec_flat_blocks_roundtrip_exact():
    """Baseline JPEG codec: flat 8x8 blocks under an all-ones quant
    table have DC-only spectra, so the full encode -> Huffman/DCT ->
    decode roundtrip must reconstruct EXACT pixel values — the
    property the multimodal_jpeg_decode oracle relies on. Exercises
    multi-block differential DC across the full value range."""
    img = np.zeros((16, 24), dtype=np.int64)
    vals = [0, 255, 17, 200, 128, 1]  # extremes stress DC categories
    for j, v in enumerate(vals):
        r, c = divmod(j, 3)
        img[8 * r : 8 * r + 8, 8 * c : 8 * c + 8] = v
    buf = multimodal.encode_jpeg_gray(img, quant=1)
    w, h, px = multimodal.decode_jpeg_gray(buf)
    assert (w, h) == (24, 16)
    assert np.array_equal(px.reshape(16, 24), img)


def test_jpeg_codec_ac_blocks_within_quant_bound():
    """AC-bearing (non-flat) blocks are lossy: reconstruction must
    stay within the quantization error bound. Rounding each of the 64
    orthonormal-DCT coefficients by <= quant/2 perturbs any pixel by
    <= 0.5*quant*sum|basis| <= 4*quant; assert that bound plus the
    much tighter empirical behavior, and that coarser quant degrades
    (i.e. the quant table is actually applied)."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 16), dtype=np.int64)
    errs = {}
    for quant in (1, 8):
        buf = multimodal.encode_jpeg_gray(img, quant=quant)
        w, h, px = multimodal.decode_jpeg_gray(buf)
        assert (w, h) == (16, 16)
        err = np.abs(px.reshape(16, 16).astype(np.int64) - img).max()
        assert err <= 4 * quant + 1  # +1 for the final pixel rint
        errs[quant] = err
    assert errs[8] > errs[1]  # quant step genuinely applied


def test_jpeg_codec_rejects_unsupported_variants():
    """The decoder must REJECT what it does not implement rather than
    mis-decode: progressive SOF2, restart intervals, truncated entropy
    data, and non-JPEG bytes."""
    img = np.full((8, 8), 100, dtype=np.int64)
    buf = multimodal.encode_jpeg_gray(img, quant=1)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(b"notajpeg")
    prog = bytearray(buf)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(bytes(prog))
    import struct as st

    dri = buf[:2] + b"\xff\xdd" + st.pack(">HH", 4, 8) + buf[2:]
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(dri)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(buf[:-4])  # truncated scan/EOI
    # truncation INSIDE a marker segment must raise ValueError, never
    # struct.error (the contractual malformed-JPEG signal)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(buf[: sof + 5])
    # T.81 B.1.1.2 fill bytes: 0xFF padding before a marker is legal
    padded = buf[:2] + b"\xff\xff" + buf[2:]
    w, h, px = multimodal.decode_jpeg_gray(padded)
    assert (w, h) == (8, 8) and px[0] == 100
    # _decode_header dispatch: baseline JPEG yields dims without a
    # full decode; progressive raises through the same walk
    w, h, frames = multimodal._decode_header(buf)
    assert (w, h, frames) == (8, 8, 1)
    with pytest.raises(ValueError):
        multimodal._decode_header(bytes(prog))
    with pytest.raises(ValueError):
        multimodal._decode_header(buf[: sof + 5])
    assert multimodal._decode_header(padded) == (8, 8, 1)


def test_jpeg_corpus_query_registered_and_decodes(spark):
    """multimodal_jpeg_decode is a first-class registry entry whose
    Spark result equals the generator algebra (the oracle's claim,
    re-derived here in Python for a library-level pin)."""
    import hashlib

    from dat_archive_map_reduce_spark.queries import ORACLE, QUERIES

    assert "multimodal_jpeg_decode" in QUERIES
    assert "multimodal_jpeg_decode" in ORACLE
    rows = {r["media_id"]: r for r in
            QUERIES["multimodal_jpeg_decode"](spark, SF).collect()}
    assert len(rows) == 24
    for i in (0, 7, 23):
        hb = hashlib.md5(str(i).encode()).digest()
        bw, bh = 1 + hb[0] % 4, 1 + hb[1] % 4
        r = rows[i]
        assert (r["width"], r["height"]) == (8 * bw, 8 * bh)
        assert r["n_vals"] == 64 * bw * bh
        assert r["val_sum"] == 64 * sum(
            (i * 17 + 29 * j) % 256 for j in range(bw * bh)
        )
        assert r["val_first"] == (i * 17) % 256
        assert r["val_last"] == (i * 17 + 29 * (bw * bh - 1)) % 256


def test_real_media_corpus_decodes_end_to_end(spark):
    """decode_media (the shared metadata stage) must handle REAL
    format bytes end-to-end — the round-4 capability gap: width/height
    from the PPM header, PCM frame count for WAV."""
    media = multimodal.real_media_corpus(spark, n=16)
    rows = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert len(rows) == 16
    import hashlib

    for i in range(16):
        hb = hashlib.md5(str(i).encode()).digest()
        if i % 2 == 0:
            assert rows[i]["width"] == 8 + hb[0] % 24
            assert rows[i]["height"] == 8 + hb[1] % 24
            assert rows[i]["n_frames"] == 1
        else:
            assert rows[i]["n_frames"] == 64 + hb[1] % 192


def test_text_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "the the the"), (4, "!!! ???")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.text_stats(df, "text", "doc_id").collect()}
    assert rows[1]["n_tokens"] == 1  # split('') -> ['']
    assert rows[2]["n_tokens"] == 1 and rows[2]["stopword_ratio"] == 0.0
    assert rows[3]["stopword_ratio"] == 1.0
    assert rows[4]["punct_ratio"] > 0.5
    assert rows[2]["lang_pred"] == "und"
    assert rows[3]["lang_pred"] == "en"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "hello  world ")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(TX.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_cosine_near_pairs_matches_bruteforce(embeddings):
    """Block-matrix all-pairs must equal the naive cross-join pair set
    (same ids, same similarities to 1e-9)."""
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.cosine_near_pairs(embeddings, threshold=0.4, n_blocks=4).collect()
    }
    rows = embeddings.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    expected = {}
    mat = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
    sims = mat @ mat.T
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= 0.4:
                expected[(ids[i], ids[j])] = sims[i, j]
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9


def test_with_shingles_short_doc_yields_empty_set(spark):
    """Docs shorter than n tokens: empty shingle array, no crash
    (sequence(1,0) is a DESCENDING range in Spark — the unguarded
    form throws INVALID_PARAMETER_VALUE.START from slice)."""
    df = spark.createDataFrame(
        [(1, "only two"), (2, "a"), (3, ""), (4, "one two three four")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["shingles"]
            for r in dedup.with_shingles(df, "text", n=3).collect()}
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == []
    assert rows[4] == ["one two three", "two three four"]


def test_ann_gemm_high_recall_on_true_near_dups(spark):
    """The sign-LSH -> block-GEMM composition must recover nearly all
    TRUE near-duplicates (cosine >= 0.95): a perturbed copy flips few
    sign bits, so it almost always agrees with its source on at least
    one pigeonhole chunk."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(100, 64))
    rows = [(i, base[i].astype("float32").tolist()) for i in range(100)]
    # 30 near-duplicates: tiny perturbation keeps cosine ~0.999
    for j in range(30):
        rows.append((1000 + j, (base[j] + rng.normal(scale=0.02, size=64))
                     .astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_pairs(df, threshold=0.95, n_blocks=4).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.ann_cosine_near_pairs(
            df, threshold=0.95, n_bits=16, n_chunks=4, n_blocks=4
        ).collect()
    }
    assert len(exact) >= 30
    assert got <= exact  # verify step is exact: no false positives
    assert len(got) / len(exact) >= 0.9


def test_hot_cap_bounds_bucket_explosion(spark):
    """A stop-phrase shingle shared by every doc must not emit the full
    quadratic pair set when hot_cap is on."""
    stop = "the quick brown"  # one shingle shared by all docs
    docs = [(i, f"the quick brown unique{i} word{i} tail{i}") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingle_rows(df, "text", "doc_id", n=3).select(
        "doc", F.col("shingle").alias("token"), F.col("n_sh").alias("n_tok")
    )
    uncapped = dedup.inverted_index_pair_counts(sh).count()
    capped = dedup.inverted_index_pair_counts(sh, hot_cap=10).count()
    assert uncapped == 40 * 39 // 2  # every pair meets via the hot shingle
    assert capped == 0  # hot bucket dropped before pair explosion


def test_prefix_filter_jaccard_matches_inverted_index(documents):
    """Prefix filtering is EXACT: same output as the inverted-index
    formulation on the same corpus/threshold."""
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.ngram_jaccard_pairs(documents, "text", "doc_id", 3, 0.5).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.ngram_jaccard_pairs_prefix(
            documents, "text", "doc_id", 3, 0.5
        ).collect()
    )
    assert want == got
    assert len(want) > 0


def test_prefix_filter_drops_hot_shingle_candidates(spark):
    """On a Zipfian corpus (one stop-phrase shingle shared by all docs)
    the hot shingle sorts out of every prefix, so candidate count stays
    near the true-duplicate count while the plain inverted index emits
    the full quadratic pair set."""
    stop = "the quick brown fox jumps"
    docs = [(i, f"{stop} unique{i} word{i} tail{i} extra{i}") for i in range(40)]
    # two true near-dups that share rare shingles
    docs += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = dedup.shingle_sets(df, "text", "doc_id", n=3).persist()
    n_cands = dedup.prefix_filter_candidates(sets, 0.5).count()
    sh = dedup.shingle_rows(df, "text", "doc_id", n=3).select(
        "doc", F.col("shingle").alias("token"), F.col("n_sh").alias("n_tok")
    )
    n_cooccur = dedup.inverted_index_pair_counts(sh).count()
    assert n_cooccur >= 40 * 39 // 2  # hot shingles force quadratic pairs
    assert n_cands < n_cooccur / 10  # prefixes exclude the hot shingles
    # and the exact result still comes out
    pairs = dedup.ngram_jaccard_pairs_prefix(df, "text", "doc_id", 3, 0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} >= {(100, 101)}


def test_connected_components_chain_triangle_path(spark):
    """Alternating-star CC labels every component by its min node:
    chain + triangle + pair, and a 64-node path (worst case for naive
    label propagation; star converges in O(log n) rounds)."""
    from dat_archive_map_reduce_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (5, 4)],
        "src long, dst long",
    )
    got = sorted((r.node, r.component) for r in connected_components(edges, "src", "dst").collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)]

    n = 64
    path = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    got2 = sorted((r.node, r.component) for r in connected_components(path).collect())
    assert got2 == [(i, 0) for i in range(n + 1)]


def test_cross_containment_finds_quoted_probe(spark):
    """An eval doc quoted verbatim inside a train doc must surface with
    containment 1.0; hot_cap must drop boilerplate fingerprints."""
    quoted = "alpha beta gamma delta epsilon zeta eta"
    boiler = "the terms of service apply to all users here"
    train = spark.createDataFrame(
        [(1, f"intro words {quoted} closing words"),
         (2, f"unrelated train text about something else entirely {boiler}"),
         (3, f"more unrelated training material goes right here {boiler}")],
        "doc_id long, text string")
    probe = spark.createDataFrame(
        [(100, quoted), (101, boiler), (102, "totally novel eval content nothing shared")],
        "doc_id long, text string")
    got = TX.cross_containment_pairs(probe, train, "text", "doc_id", n=5, min_containment=0.5)
    rows = {(r.probe_id, r.corpus_id): r.containment for r in got.collect()}
    assert rows[(100, 1)] == 1.0          # quoted doc fully covered
    assert (101, 2) in rows and (101, 3) in rows  # boilerplate matches both
    assert not any(p == 102 for p, _ in rows)     # novel doc clean
    capped = TX.cross_containment_pairs(
        probe, train, "text", "doc_id", n=5, min_containment=0.5, hot_cap=1)
    crows = {(r.probe_id, r.corpus_id) for r in capped.collect()}
    assert crows == {(100, 1)}  # boilerplate fps (2 train docs) dropped


def test_minhash_band_map_equals_spark_bands(spark, documents):
    """The view map's Python MinHash bands equal the Spark band
    pipeline row for row, on every document plus hand-made ones:
    non-ASCII letters (dotted capital I, sharp s, a final capital
    sigma), double and edge spaces, and a document of fewer than
    shingle_n tokens, which emits nothing."""
    import json

    hand = [
        (9001, "İstanbul STRASSE straße ΟΔΟΣ ΣΟΦΟΣ and ΌΡΟΣ"),
        (9002, "double  spaces  inside  this   text"),
        (9003, " leading and trailing spaces "),
        (9004, "two tokens"),
    ]
    docs = documents.select("doc_id", "text").unionByName(
        spark.createDataFrame(hand, "doc_id long, text string")
    )
    want = sorted(
        (r.id, r.band, r.bucket)
        for r in dedup.portable_minhash_bands(
            dedup.portable_minhash_sigs(dedup.shingle_sets(docs, "text", "doc_id"))
        ).collect()
    )
    band_map = dedup.minhash_band_map()
    got = []
    for r in docs.collect():
        band_map(
            json.dumps({"doc_id": r.doc_id, "text": r.text}),
            {},
            lambda k, v: got.append((v, k[0], k[1])),
        )
    assert sorted(got) == want
    ids = {i for i, _, _ in got}
    assert {9001, 9002, 9003} <= ids and 9004 not in ids


def test_mg_heavy_hitters_partitioning_invariant(spark, documents):
    """The two-pass Misra-Gries heavy hitter must return EXACTLY the
    plain groupBy answer under any partition layout — the MG guarantee
    (candidates superset all tokens above support) is per-partition,
    so repartitioning is the adversarial input."""
    from dat_archive_map_reduce_spark.operators.text import mg_heavy_hitters

    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("token"),
    ).filter(F.length("token") >= 3)
    n_docs = toks.select("doc_id").distinct().count()
    import math

    thresh = math.ceil(0.1 * n_docs)
    expected = {
        (r["token"], r["doc_freq"])
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= thresh)
        .collect()
    }
    for parts in (1, 7, 32):
        got = {
            (r["token"], r["doc_freq"])
            for r in mg_heavy_hitters(
                toks.repartition(parts), support_frac=0.1, counters=64
            ).collect()
        }
        assert got == expected, f"mismatch at {parts} partitions"


def test_mg_heavy_hitters_adversarial_filler_corpus(spark):
    """ADVICE round-2 regression: 100 docs x 64 unique filler tokens
    each, plus one token appearing in 15 docs (15% support — qualifies
    at support_frac=0.1). With a FIXED 64-slot budget the hot token is
    evicted in pass 1 (its 15 rows drown in 6400 filler rows) and
    silently missing from the 'EXACT' output. The data-aware slot
    budget (floor(N/threshold)+1) must recover it under every
    partition layout."""
    from dat_archive_map_reduce_spark.operators.text import mg_heavy_hitters

    rows = []
    for d in range(100):
        for i in range(64):
            rows.append((d, f"filler_{d}_{i}"))
        if d < 15:
            rows.append((d, "hot_token"))
    toks = spark.createDataFrame(rows, "doc_id int, token string")
    for parts in (1, 7, 32):
        got = {
            (r["token"], r["doc_freq"])
            for r in mg_heavy_hitters(
                toks.repartition(parts), support_frac=0.1, counters=64
            ).collect()
        }
        assert got == {("hot_token", 15)}, f"mismatch at {parts} partitions: {got}"


def test_mg_heavy_hitters_empty_input(spark):
    from dat_archive_map_reduce_spark.operators.text import mg_heavy_hitters

    toks = spark.createDataFrame([], "doc_id int, token string")
    assert mg_heavy_hitters(toks, support_frac=0.1).count() == 0


def test_train_centroids_partitioning_invariant(embeddings):
    """IVF centroid training must not depend on partition layout: the
    sample is ordered (orderBy(id).limit), so centroids are bit-equal
    across 1/7/32-partition inputs."""
    ref = similarity.train_centroids(embeddings.repartition(1), n_clusters=4, iters=2)
    for parts in (7, 32):
        got = similarity.train_centroids(
            embeddings.repartition(parts), n_clusters=4, iters=2
        )
        assert np.array_equal(ref, got), f"centroids drifted at {parts} partitions"


def test_portable_pq_matches_driver_side_replay(embeddings):
    """The portable PQ pipeline's ADC distances replayed in plain
    Python over collected vectors equal the Spark answer exactly —
    the same bit-for-bit property the SQL oracle checks, pinned
    locally so it can't silently regress between rounds."""
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in embeddings.collect()}
    qv, m, dsub = rows[0], 4, 16
    cents = [rows[c] for c in sorted(r for r in rows if 1 <= r <= 16)]
    books = [[cv[mi * dsub:(mi + 1) * dsub] for cv in cents] for mi in range(m)]

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    expect = []
    for vid, v in rows.items():
        if vid == 0:
            continue
        total = 0.0
        for mi in range(m):
            sub = v[mi * dsub:(mi + 1) * dsub]
            code = min(range(16), key=lambda ci: (sq(sub, books[mi][ci]), ci))
            total += sq(qv[mi * dsub:(mi + 1) * dsub], books[mi][code])
        expect.append((vid, total))
    expect = [(vid, round(t, 4)) for vid, t in sorted(expect, key=lambda p: (p[1], p[0]))[:10]]

    got = [
        (r["vec_id"], round(r["adc_dist"], 4))
        for r in similarity.portable_pq_adc_topk(
            embeddings.filter(F.col("vec_id") != 0), qv, m=4,
            centroid_ids=tuple(range(1, 17)), k=10,
        ).collect()
    ]
    assert got == expect


def test_mg_heavy_hitters_randomized_corpora(spark):
    """Seeded-random sweep: across corpora with different vocabulary
    shapes (uniform, Zipf-ish, few-heavy-many-light) and partition
    layouts, the two-pass MG output must equal the exact groupBy
    answer — the adversarial filler test pins one known trap, this
    pins the general contract."""
    import math
    import random

    from dat_archive_map_reduce_spark.operators.text import mg_heavy_hitters

    rng = random.Random(7)
    for trial in range(6):
        n_docs = rng.randint(20, 80)
        vocab = [f"w{j}" for j in range(rng.randint(10, 200))]
        rows = []
        for doc in range(n_docs):
            n_tok = rng.randint(1, 40)
            # per-doc distinct tokens (the operator's precondition)
            toks = rng.sample(vocab, min(n_tok, len(vocab)))
            rows.extend((doc, t) for t in toks)
        frac = rng.choice([0.1, 0.25, 0.5])
        toks_df = spark.createDataFrame(rows, "doc_id int, token string")
        thresh = max(1, math.ceil(frac * n_docs))
        from collections import Counter

        cnt = Counter(t for _, t in rows)
        expected = {(t, c) for t, c in cnt.items() if c >= thresh}
        for parts in (1, 5):
            got = {
                (r["token"], r["doc_freq"])
                for r in mg_heavy_hitters(
                    toks_df.repartition(parts), support_frac=frac, counters=8
                ).collect()
            }
            assert got == expected, f"trial {trial} parts {parts}"


def test_sampled_percentiles_close_to_exact(spark):
    """The KMV-sampled portable percentile must land within ~5% of the
    exact per-group quantile at k=1024 (O(1/sqrt(k)) sampling error)."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["agg_percentiles"](spark, sf).collect()
    }
    sampled = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["agg_percentiles_sampled_portable"](spark, sf).collect()
    }
    assert set(exact) == set(sampled)
    for g in exact:
        for e, s in zip(exact[g], sampled[g]):
            assert abs(s - e) / e < 0.05, (g, e, s)


def test_exact_substring_interval_union(spark):
    """Two docs sharing one verbatim 17-token run: windows of 15 start
    at offsets 0..2, so the interval union must count 17 covered
    tokens, not 3 * 15."""
    from dat_archive_map_reduce_spark.operators.dedup import (
        exact_substring_span_stats,
    )

    shared = " ".join(f"s{i}" for i in range(17))
    docs = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, shared + " other words here entirely"),
        (3, "no overlap with anything at all whatsoever in this row"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in exact_substring_span_stats(df, "text", "doc_id", span_len=15).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_dup_windows"] == 3 and out[2]["n_dup_windows"] == 3
    assert out[1]["dup_tokens"] == 17 and out[2]["dup_tokens"] == 17
    assert out[1]["n_tokens"] == 21
    assert abs(out[1]["dup_fraction"] - round(17 / 21, 4)) < 1e-9


def test_winnowing_guarantee_and_density(spark):
    """Winnowing contract (k=4, w=5): docs sharing a run of
    >= w + k - 1 = 8 tokens share >= 1 selected fingerprint, and the
    sketch is strictly sparser than the dense every-gram sketch."""
    from dat_archive_map_reduce_spark.operators.text import winnowing_stats
    from dat_archive_map_reduce_spark.operators.dedup import span_postings

    shared = "q w e r t y u i"  # exactly 8 tokens
    docs = [
        (1, "aa bb cc " + shared + " dd ee ff gg hh ii jj kk ll mm nn oo"),
        (2, "zz yy xx ww " + shared + " vv uu tt ss rr qq pp oo nn mm"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {r["doc_id"]: r for r in winnowing_stats(df, "text", "doc_id").collect()}
    for d in (1, 2):
        assert 0 < stats[d]["n_selected"] < stats[d]["n_grams"]
        assert abs(stats[d]["density"] - round(stats[d]["n_selected"] / stats[d]["n_grams"], 4)) < 1e-9

    # the guarantee itself: recompute the selected FP sets and intersect
    from pyspark.sql import Window, functions as F

    grams = span_postings(df, "text", "doc_id", span_len=4)
    w_frame = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, 4)
    w_doc = Window.partitionBy("doc")
    key = F.concat(F.col("h"), F.lpad((F.lit(100000) - F.col("pos")).cast("string"), 6, "0"))
    sel = (
        grams.select(
            "doc", "pos",
            F.count(F.lit(1)).over(w_doc).alias("m"),
            F.min(key).over(w_frame).alias("key"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("m") - 5, F.lit(0)))
        .select("doc", F.substring("key", 1, 32).alias("fp"))
        .distinct()
        .collect()
    )
    fps = {1: set(), 2: set()}
    for r in sel:
        fps[r["doc"]].add(r["fp"])
    assert fps[1] & fps[2], "8-token shared run must share a fingerprint"


def test_winnowing_short_doc_single_fingerprint(spark):
    """A doc with fewer grams than the window still winnows to its
    overall min (never zero fingerprints when any gram exists)."""
    from dat_archive_map_reduce_spark.operators.text import winnowing_stats

    df = spark.createDataFrame(
        [(1, "only five words right here"),  # 5 tokens -> 2 grams < w
         (2, "abc")],                        # < k tokens -> no grams
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in winnowing_stats(df, "text", "doc_id").collect()}
    assert set(rows) == {1}
    assert rows[1]["n_selected"] == 1


def test_kmeans_lloyd_step_monotone_inertia(embeddings):
    """Lloyd contract: re-running the step from the updated means must
    not increase total inertia (both assignment and update are exact
    descent steps); cluster sizes sum to the corpus size."""
    from dat_archive_map_reduce_spark.operators.similarity import kmeans_lloyd_step

    seeds = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter("vec_id between 1 and 8")
        .orderBy("vec_id").select("embedding").collect()
    ]
    step1 = kmeans_lloyd_step(embeddings, seeds).collect()
    n_total = embeddings.count()
    sizes = {r["cid"]: r["n_assigned"] for r in step1}
    assert sum(sizes.values()) == n_total
    assert len(step1) == len(sizes) * 64  # (cid, dim) grain
    inertia1 = sum({r["cid"]: r["inertia"] for r in step1}.values())

    new_seeds = [[0.0] * 64 for _ in range(len({r["cid"] for r in step1}))]
    cids = sorted({r["cid"] for r in step1})
    remap = {c: i for i, c in enumerate(cids)}
    for r in step1:
        new_seeds[remap[r["cid"]]][r["dim"]] = r["mean_val"]
    step2 = kmeans_lloyd_step(embeddings, new_seeds).collect()
    inertia2 = sum({r["cid"]: r["inertia"] for r in step2}.values())
    assert inertia2 <= inertia1 + 1e-6


def test_gopher_rules_edge_cases(spark):
    """Rule behavior on engineered docs: a clean 30-word doc keeps; a
    symbol-heavy doc trips ok_symbol; a stopword-free doc trips
    ok_stop; a short doc trips ok_words."""
    from dat_archive_map_reduce_spark.operators.text import gopher_rules

    clean = "the quick brown fox jumps over the lazy dog and then runs " \
            "far away into the woods to find some food for its hungry " \
            "little pups tonight under a bright moon"  # 32 words, stopword-rich
    symbols = " ".join(["###"] * 30)
    nostop = " ".join(["quick"] * 30)
    short = "the tiny doc"
    df = spark.createDataFrame(
        [(1, clean), (2, symbols), (3, nostop), (4, short)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df, "text", "doc_id").collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["ok_symbol"] is False and rows[2]["keep"] is False
    assert rows[3]["ok_stop"] is False and rows[3]["keep"] is False
    assert rows[4]["ok_words"] is False and rows[4]["keep"] is False


def test_bm25_ranking_properties(spark):
    """BM25 contract: more query-term mass ranks higher at equal
    length; docs without any query term never appear; saturation --
    tf=50 of one term cannot beat broad coverage of all terms."""
    from dat_archive_map_reduce_spark.operators.text import bm25_topk

    filler = "xx yy zz " * 4
    docs = [
        (1, (filler + "spark filter window " * 3).strip()),   # all terms, 3x
        (2, (filler + "spark " * 9).strip()),                  # one term, 9x
        (3, (filler + "spark").strip()),                       # one term, 1x
        (4, filler.strip()),                                   # no terms
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = bm25_topk(df, "text", "doc_id", ["spark", "filter", "window"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert 4 not in ids
    assert ids.index(1) < ids.index(2) < ids.index(3)


def test_bigram_lm_xent_orders_gibberish_above_repetition(spark):
    """LM-filter contract: a doc of one repeated bigram (maximally
    predictable under the corpus-trained LM) must score lower
    cross-entropy than a doc of unique never-repeated transitions."""
    from dat_archive_map_reduce_spark.operators.text import bigram_lm_scores

    predictable = " ".join(["ab cd"] * 20)
    gibberish = " ".join(f"w{i}" for i in range(40))
    corpus = [(1, predictable), (2, gibberish)] + [
        (10 + i, " ".join(["ab cd"] * 10)) for i in range(5)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = {r["doc_id"]: r["xent"] for r in bigram_lm_scores(df, "text", "doc_id").collect()}
    assert rows[1] < rows[2]


def test_jl_projection_norm_concentration(embeddings):
    """JL contract: E[projected norm^2] = original norm^2; with 16
    Rademacher planes the per-vector ratio is noisy but the corpus
    MEAN must concentrate near 1 (within 15%), and no ratio may be
    degenerate (<= 0)."""
    from dat_archive_map_reduce_spark.operators.similarity import jl_project

    rows = jl_project(embeddings, "vec_id", "embedding", out_dim=16).collect()
    ratios = [r["ratio"] for r in rows]
    assert all(r > 0 for r in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15


def test_semdedup_subset_and_planted_recall(spark, embeddings):
    """SemDeDup contracts. (1) On the real corpus, within-cluster pairs
    are a SUBSET of the exact all-pairs result at the same threshold —
    cluster blocking can only drop pairs, never invent them. (This
    corpus's 0.45-cos pairs sit at the S-curve midpoint where
    co-clustering is ~50/50, the paper's accepted approximation for
    borderline similarity.) (2) On planted near-IDENTICAL vectors
    (cos > 0.99 — the regime SemDeDup actually targets), recall must
    be 100%: a tiny perturbation cannot flip the nearest centroid."""
    from dat_archive_map_reduce_spark.operators.similarity import (
        cosine_near_pairs,
        semdedup_pairs,
    )

    seeds = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter("vec_id between 1 and 8")
        .orderBy("vec_id").select("embedding").collect()
    ]
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs(embeddings, threshold=0.45, n_blocks=4).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(embeddings, seeds, threshold=0.45).collect()
    }
    assert blocked <= exact

    # planted: 10 base vectors far from any seed boundary, each with a
    # +0.1%-perturbed twin
    import random

    rng = random.Random(7)
    rows = []
    for i in range(10):
        base = [rng.gauss(0, 1) for _ in range(64)]
        twin = [x * 1.001 + 0.0001 for x in base]
        rows.append((1000 + 2 * i, base))
        rows.append((1000 + 2 * i + 1, twin))
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(planted, seeds, threshold=0.99).collect()
    }
    want = {(1000 + 2 * i, 1000 + 2 * i + 1) for i in range(10)}
    assert want <= got


def test_nearest_centroid_join_matches_literal_path(spark, embeddings):
    """The broadcast-TABLE codebook (nearest_centroid_join) must be
    bit-identical to the literal-codebook path (nearest_seed_assignment)
    — same sqdist fold, same tie-to-lowest-cid. Seeds 3 and 7 are
    duplicated to force an exact distance tie: both paths must pick
    cid 3. The semdedup wrapper must agree through either entry."""
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter("vec_id between 1 and 16")
        .orderBy("vec_id").select("embedding").collect()
    ]
    seeds[7] = list(seeds[3])
    cent = spark.createDataFrame(
        [(i, v) for i, v in enumerate(seeds)],
        "cid int, centroid array<double>",
    )
    lit = {
        r["vid"]: (r["cid"], r["mindist"])
        for r in similarity.nearest_seed_assignment(embeddings, seeds).collect()
    }
    tab = {
        r["vid"]: (r["cid"], r["mindist"])
        for r in similarity.nearest_centroid_join(embeddings, cent).collect()
    }
    assert tab == lit
    assert all(cid != 7 for cid, _ in tab.values())  # ties fell to 3

    p_lit = {
        (r["id_a"], r["id_b"])
        for r in similarity.semdedup_pairs(embeddings, seeds, threshold=0.45).collect()
    }
    p_tab = {
        (r["id_a"], r["id_b"])
        for r in similarity.semdedup_pairs(embeddings, cent, threshold=0.45).collect()
    }
    assert p_tab == p_lit


def test_nearest_centroid_join_scales_k_without_driver_vectors(spark):
    """Adaptive-k scale contract (round-4 verdict #1): a k=1024
    codebook runs entirely as a broadcast table — no vector ever
    touches the driver (both sides are Spark-generated), the join is
    a broadcast (never CartesianProduct), and the physical plan is
    O(1) in k: the k=1024 plan tree is no larger than the k=8 one,
    where the literal form grows by ~k*dim expression nodes."""
    dim = 8

    def synth(n, id_name):
        return spark.range(n).select(
            F.col("id").alias(id_name),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.pmod(F.col("id") * 31 + i * 7, F.lit(97)).cast("double"),
            ).alias("v"),
        )

    emb = synth(4096, "vec_id").withColumnRenamed("v", "embedding")

    def run(k):
        cent = synth(k, "cid_raw").select(
            F.col("cid_raw").cast("int").alias("cid"),
            F.col("v").alias("centroid"),
        )
        return similarity.nearest_centroid_join(emb, cent)

    big = run(1024)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    plan_small = run(8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_big
    assert "CartesianProduct" not in plan_big
    assert len(plan_big) <= len(plan_small) + 64  # O(1) in k
    rows = big.groupBy().agg(
        F.count("*").alias("n"),
        F.min("cid").alias("lo"),
        F.max("cid").alias("hi"),
        F.count(F.when(F.col("cid").isNull() | F.col("mindist").isNull(), 1)).alias(
            "bad"
        ),
    ).first()
    assert rows["n"] == 4096 and rows["bad"] == 0
    assert 0 <= rows["lo"] and rows["hi"] <= 1023


def test_kmeans_train_distributed_monotone_inertia_large_k(spark):
    """Multi-round distributed k-means at k=256 (round-4 stretch #8):
    state is the centroid TABLE end-to-end — both corpus and seeds are
    Spark-generated, no vector ever reaches the driver — and Lloyd's
    guarantee holds: per-round total inertia is non-increasing (tiny
    tolerance for the 6-decimal mean rounding). Empty clusters (k=256
    over 4096 points leaves some seeds unhit after re-seeding) must
    keep their previous centroid rather than vanish."""
    dim = 8

    def synth(n, id_name, salt):
        # murmur3 hash: deterministic, and unlike a linear congruence
        # it yields n DISTINCT vectors (a modular formula collapses to
        # its cycle length and hands every point a zero-distance
        # centroid, making inertia 0 from round one)
        return spark.range(n).select(
            F.col("id").alias(id_name),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.pmod(
                    F.hash(F.concat_ws(":", F.lit(salt), F.col("id"), i)),
                    F.lit(997),
                ).cast("double"),
            ).alias("v"),
        )

    emb = synth(4096, "vec_id", "pt").withColumnRenamed("v", "embedding")
    cents0 = synth(256, "cid_raw", "seed").select(
        F.col("cid_raw").cast("int").alias("cid"),
        F.col("v").alias("centroid"),
    )
    cents, hist = similarity.kmeans_train_distributed(emb, cents0, n_iter=3)
    assert len(hist) == 3
    for a, b in zip(hist, hist[1:]):
        assert b <= a * (1 + 1e-9) + 1e-3, hist
    assert hist[-1] < hist[0]  # it actually improved
    assert cents.count() == 256  # empty clusters preserved, none lost
    assert cents.filter(F.col("centroid").isNull()).count() == 0


def test_chunk_overlap_reassembles_exact_windows(spark):
    """Chunking contract: a 50-token doc with W=32/S=24 yields chunks
    at starts 1 and 25 (0-based k=0,1), lengths 32 and 26; hashes match
    direct slices; a 5-token doc keeps its single short chunk."""
    import hashlib

    from dat_archive_map_reduce_spark.operators.text import chunk_overlap

    words = [f"w{i}" for i in range(50)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "just five tiny words here")],
        "doc_id long, text string",
    )
    rows = chunk_overlap(df, "text", "doc_id", window=32, stride=24, min_tail=8).collect()
    by_key = {(r["doc_id"], r["chunk_idx"]): r for r in rows}
    assert set(by_key) == {(1, 0), (1, 1), (2, 0)}
    assert by_key[(1, 0)]["chunk_len"] == 32 and by_key[(1, 1)]["chunk_len"] == 26
    exp0 = hashlib.md5(" ".join(words[0:32]).encode()).hexdigest()
    exp1 = hashlib.md5(" ".join(words[24:50]).encode()).hexdigest()
    assert by_key[(1, 0)]["chunk_hash"] == exp0
    assert by_key[(1, 1)]["chunk_hash"] == exp1


def test_remove_spans_scrubs_only_duplicated_tokens(spark):
    """Span scrub: two docs sharing a 17-token run lose exactly those
    tokens; the cleaned hash equals the direct reconstruction; the
    unaffected doc is absent from the output."""
    import hashlib

    from dat_archive_map_reduce_spark.operators.dedup import remove_duplicated_spans

    shared = " ".join(f"s{i}" for i in range(17))
    pre1, post1 = "alpha beta", "gamma delta"
    docs = [
        (1, f"{pre1} {shared} {post1}"),
        (2, shared + " tail words here now"),
        (3, "completely unrelated filler text with no duplicate spans at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in remove_duplicated_spans(df, "text", "doc_id", 15).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_before"] == 21 and rows[1]["n_after"] == 4
    expected1 = hashlib.md5("alpha beta gamma delta".encode()).hexdigest()
    assert rows[1]["cleaned_hash"] == expected1
    assert rows[2]["n_after"] == rows[2]["n_before"] - 17


def test_incremental_span_counts_batch_split_invariant(spark, documents):
    """Ingesting the corpus in two disjoint halves yields the same
    span-count state — and therefore the same duplicated-span set —
    as one full-batch pass."""
    full = dedup.incremental_span_counts(documents, None, "text", "doc_id", 15)
    b1 = documents.filter(F.col("doc_id") % 2 == 0)
    b2 = documents.filter(F.col("doc_id") % 2 == 1)
    s1 = dedup.incremental_span_counts(b1, None, "text", "doc_id", 15)
    merged = dedup.incremental_span_counts(b2, s1, "text", "doc_id", 15)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    dup_full = {r["h"] for r in full.filter("n_docs >= 2").collect()}
    dup_incr = {r["h"] for r in merged.filter("n_docs >= 2").collect()}
    assert dup_full == dup_incr and dup_full


def test_shard_manifest_balanced_and_partition_invariant(spark):
    """The shard manifest is a true permutation: shard sizes differ by
    at most 1, within-shard positions are contiguous from 0, and the
    assignment is identical across input partition layouts."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    out = QUERIES["corpus_shard_manifest"](spark, SF)
    rows = out.collect()
    n = len(rows)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    sizes = {len(v) for v in by_shard.values()}
    assert max(sizes) - min(sizes) <= 1 and set(by_shard) == set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    assert sum(len(v) for v in by_shard.values()) == n


def test_dsir_weights_prefers_target_like_docs(spark):
    """Planted signal: raw docs written in the target's vocabulary must
    outscore raw docs of out-of-distribution gibberish."""
    from dat_archive_map_reduce_spark.operators.text import dsir_weights

    tvoc = ["alpha", "beta", "gamma", "delta", "epsilon"]
    gvoc = ["zzq", "xxv", "qqj", "wwk", "vvz"]
    target = spark.createDataFrame(
        [(100 + i, " ".join(tvoc * 4)) for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, " ".join(tvoc * 3)), (2, " ".join(gvoc * 3))],
        "doc_id long, text string",
    )
    scores = {r["doc_id"]: r["dsir_score"] for r in
              dsir_weights(raw, target, "text", "doc_id").collect()}
    assert scores[1] > scores[2]
    assert scores[1] > 0 > scores[2]


def test_packing_efficiency_accounts_every_token(spark):
    """Bucket totals must partition the corpus: doc and token counts
    sum to the whole table, and waste columns match a direct compute."""
    from dat_archive_map_reduce_spark.queries import QUERIES
    from dat_archive_map_reduce_spark.sources.tables import load_table

    out = QUERIES["corpus_packing_efficiency"](spark, SF).collect()
    d = load_table(spark, SF, "documents")
    direct = d.select(
        F.size(F.split(F.lower("text"), " ")).alias("n")
    ).agg(
        F.count("*").alias("docs"),
        F.sum("n").alias("toks"),
        F.sum(F.greatest(F.col("n") - 512, F.lit(0))).alias("trunc"),
        F.sum(F.when(F.col("n") < 512, 512 - F.col("n")).otherwise(0)).alias("pad"),
    ).first()
    assert sum(r["n_docs"] for r in out) == direct["docs"]
    assert sum(r["total_tokens"] for r in out) == direct["toks"]
    assert sum(r["trunc_waste"] for r in out) == direct["trunc"]
    assert sum(r["pad_waste"] for r in out) == direct["pad"]
    for r in out:
        assert r["bucket_lo"] == 2 ** (r["len_bucket"] - 1)


def _py_bpe(word_freqs, n_merges, min_pair_count=2, batch_size=8):
    """Pure-Python reference for the BATCHED BPE trainer (string
    symbols, greedy left-to-right merges, ties on (count desc, left,
    right)): each pass ranks pairs by pass-start counts and accepts
    the longest symbol-disjoint prefix up to ``batch_size``.
    batch_size=1 is classic sequential greedy BPE."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    while len(out) < n_merges:
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        ranked = sorted(
            (kv for kv in counts.items() if kv[1] >= min_pair_count),
            key=lambda kv: (-kv[1], kv[0]),
        )
        if not ranked:
            break
        want = min(batch_size, n_merges - len(out))
        used, batch = set(), []
        for (a, b), cnt in ranked:
            syms = {a, b, a + b}
            if used & syms:
                break
            used |= syms
            batch.append((a, b, cnt))
            if len(batch) == want:
                break
        for a, b, cnt in batch:
            out.append((len(out), a, b, a + b, cnt))
            new_vocab = {}
            for syms, f in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + f
            vocab = new_vocab
    return out


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer must reproduce the reference merge
    sequence exactly, including greedy overlap handling (aaab)."""
    docs = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest newest low aaab aaab aaab aaab aaab aaab"),
        (3, "the the the the quick quick brown fox fox fox"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from dat_archive_map_reduce_spark.operators.text import bpe_train

    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=8).collect()
    ]
    freqs = {}
    import re
    for _, t in docs:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    want = _py_bpe(freqs, 8)
    assert got == want and len(got) == 8


def test_bpe_train_partition_invariant(spark):
    """Same merge table regardless of input partition layout."""
    from dat_archive_map_reduce_spark.operators.text import bpe_train
    from dat_archive_map_reduce_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    m1 = bpe_train(d.repartition(1), "text", n_merges=5).collect()
    m8 = bpe_train(d.repartition(8), "text", n_merges=5).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m8]
    assert len(m1) == 5


def test_bpe_train_batch1_is_classic_greedy(spark):
    """batch_size=1 must reproduce classic sequential greedy BPE
    (the batched trainer's degenerate case)."""
    docs = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "widest widest newest low aaab aaab aaab aaab aaab aaab"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from dat_archive_map_reduce_spark.operators.text import bpe_train

    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=6, batch_size=1).collect()
    ]
    freqs = {}
    import re
    for _, t in docs:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    assert got == _py_bpe(freqs, 6, batch_size=1)


def test_bpe_train_scales_linearly_in_merges(spark):
    """50 merges must NOT cost 5x the per-merge price of 10 merges:
    batched passes + bounded lineage keep per-merge wall-time flat,
    where per-merge plan chaining would grow it with merge count.
    The deterministic property is STRUCTURAL — the final vocabulary's
    plan stays bounded (checkpoint-per-pass lineage truncation) instead
    of chaining one fold segment per merge, so its optimized-plan text
    must not grow with merge count. The wall-clock ratio keeps wide
    (6x) headroom as a soft backstop, since JIT/GC noise on a loaded
    machine can double a single run."""
    import time

    import dat_archive_map_reduce_spark.operators.text as TXmod
    from dat_archive_map_reduce_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents")
    TXmod.bpe_train(d, "text", n_merges=5).collect()  # warm codegen/caches
    t0 = time.monotonic()
    m10, seg10 = TXmod.bpe_train_tokenizer(d, "text", n_merges=10)
    assert len(m10.collect()) == 10
    t10 = time.monotonic() - t0
    t0 = time.monotonic()
    m50, seg50 = TXmod.bpe_train_tokenizer(d, "text", n_merges=50)
    assert len(m50.collect()) == 50
    t50 = time.monotonic() - t0
    # structural: bounded lineage — the 50-merge vocabulary's plan is
    # no deeper than the 10-merge one (chained per-merge fold segments
    # would grow it ~5x)
    p10 = seg10._jdf.queryExecution().optimizedPlan().toString()
    p50 = seg50._jdf.queryExecution().optimizedPlan().toString()
    assert len(p50.splitlines()) <= len(p10.splitlines()) + 2, (
        len(p10.splitlines()), len(p50.splitlines())
    )
    # soft timing backstop with wide headroom
    assert t50 / 50 < 6.0 * max(t10 / 10, 0.05), (t10, t50)


def test_bpe_apply_long_merge_list_bounded_plan(spark):
    """A trained 50-rule tokenizer must apply without 50 chained fold
    segments: disjoint batches + checkpoint cadence keep the apply
    plan bounded, and the result must still match the pure-Python
    sequential tokenizer on every doc."""
    import re

    from dat_archive_map_reduce_spark.operators.text import bpe_apply, bpe_train
    from dat_archive_map_reduce_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents").limit(40)
    rules = [(r["left"], r["right"]) for r in bpe_train(d, "text", n_merges=50).collect()]
    assert len(rules) == 50
    got = {r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
           for r in bpe_apply(d, rules, "text", "doc_id").collect()}

    def seg_len(word):
        syms = list(word)
        for a, b in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return len(syms)

    for row in d.select("doc_id", "text").collect():
        words = [w for w in re.split(r"[^a-z0-9]+", row["text"].lower()) if w]
        if not words:
            continue
        assert got[row["doc_id"]] == (sum(seg_len(w) for w in words), len(words))


def test_bpe_apply_matches_python_tokenizer(spark):
    """bpe_apply must reproduce the reference tokenization: per doc,
    sum over words of the reference greedy segmentation length."""
    import re
    docs = [
        (1, "low lower lowest newest newest aaab"),
        (2, "aaab aaab the quick brown low low"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from dat_archive_map_reduce_spark.operators.text import bpe_apply

    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("a", "a"), ("es", "t")]

    def seg(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms

    want = {}
    for doc_id, t in docs:
        words = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        want[doc_id] = (sum(len(seg(w)) for w in words), len(words))
    got = {r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
           for r in bpe_apply(df, merges, "text", "doc_id").collect()}
    assert got == want
    # sanity: merges actually compressed something
    assert got[1][0] < sum(len(w) for w in "low lower lowest newest newest aaab".split())


def test_bpe_serving_seg_join_runs_no_folds(spark, monkeypatch):
    """Serving contract (round-4 verdict #2): tokenizing a second
    corpus with a SAVED tokenizer (the bpe_train_tokenizer
    segmentation artifact) runs ZERO fold passes when the training
    vocabulary covers the corpus — tokenization is one join — and
    matches the replay-the-merge-list fold path exactly. A corpus
    with unseen words folds ONLY the missing types, and still agrees
    with the fold path."""
    import dat_archive_map_reduce_spark.operators.text as TXmod

    dfA = spark.createDataFrame(
        [(1, "low lower lowest newest newest aaab"),
         (2, "aaab aaab the quick brown low low")],
        "doc_id long, text string",
    )
    merges_df, seg = TXmod.bpe_train_tokenizer(dfA, "text", n_merges=5)
    seg = seg.localCheckpoint()  # the saved tokenizer artifact
    merges = [(r["left"], r["right"]) for r in merges_df.collect()]

    def result(df, **kw):
        return {
            r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
            for r in TXmod.bpe_apply(df, merges, "text", "doc_id", **kw).collect()
        }

    dfB = spark.createDataFrame(
        [(10, "newest brown low the quick"), (11, "lowest aaab lower")],
        "doc_id long, text string",
    )
    fold_want = result(dfB)

    calls: list[int] = []
    orig = TXmod._bpe_fold_batch
    monkeypatch.setattr(
        TXmod, "_bpe_fold_batch",
        lambda v, b: (calls.append(len(b)), orig(v, b))[1],
    )
    assert result(dfB, seg=seg) == fold_want
    assert calls == []  # covered corpus: zero fold passes
    assert result(dfB, seg=seg, assume_covered=True) == fold_want
    assert calls == []  # fast path: still zero

    dfC = spark.createDataFrame(
        [(20, "zzzq newest low"), (21, "mmmm zzzq")],
        "doc_id long, text string",
    )
    calls.clear()
    monkeypatch.setattr(TXmod, "_bpe_fold_batch", orig)
    want_c = result(dfC)
    monkeypatch.setattr(
        TXmod, "_bpe_fold_batch",
        lambda v, b: (calls.append(len(b)), orig(v, b))[1],
    )
    assert result(dfC, seg=seg) == want_c
    assert len(calls) >= 1  # unseen types fell back to the fold chain


def test_bpe_tokenizer_artifact_roundtrip_serves_without_folds(
    spark, tmp_path, monkeypatch
):
    """The trained tokenizer persists as a warehouse artifact
    (merges + segmentation parquet) and a fresh load serves a covered
    corpus with ZERO fold passes — the cross-session version of the
    one-join serving contract."""
    import dat_archive_map_reduce_spark.operators.text as TXmod

    dfA = spark.createDataFrame(
        [(1, "low lower lowest newest newest aaab"),
         (2, "aaab aaab the quick brown low low")],
        "doc_id long, text string",
    )
    merges_df, seg = TXmod.bpe_train_tokenizer(dfA, "text", n_merges=5)
    art = str(tmp_path / "tokenizer-v1")
    TXmod.bpe_save_tokenizer(merges_df, seg, art)

    rules, seg2 = TXmod.bpe_load_tokenizer(spark, art)
    assert rules == [(r["left"], r["right"]) for r in merges_df.collect()]

    want = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
        for r in TXmod.bpe_apply(dfA, rules, "text", "doc_id").collect()
    }
    calls: list[int] = []
    orig = TXmod._bpe_fold_batch
    monkeypatch.setattr(
        TXmod, "_bpe_fold_batch",
        lambda v, b: (calls.append(len(b)), orig(v, b))[1],
    )
    got = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
        for r in TXmod.bpe_apply(
            dfA, rules, "text", "doc_id", seg=seg2
        ).collect()
    }
    assert got == want
    assert calls == []  # loaded artifact: zero folds


def test_char_entropy_edge_cases(spark):
    """Constant text -> 0 bits; k equiprobable chars -> log2(k)."""
    from dat_archive_map_reduce_spark.queries import QUERIES
    import math
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdabcd"), (3, "ab")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_ent_docs")
    # drive the operator body directly on a tiny frame
    from pyspark.sql import functions as F
    cnt = (df.select("doc_id", F.explode(F.transform(
               F.sequence(F.lit(1), F.length("text")),
               lambda i: F.col("text").substr(i, F.lit(1)))).alias("ch"))
             .groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    ent = {r["doc_id"]: r["e"] for r in
           cnt.join(tot, "doc_id").groupBy("doc_id")
              .agg(F.round(-F.sum(p * F.log(p)) / float(math.log(2.0)), 4).alias("e"))
              .collect()}
    assert ent[1] == 0.0
    assert abs(ent[2] - 2.0) < 1e-9
    assert abs(ent[3] - 1.0) < 1e-9


def test_weighted_sample_topk_exact_size_and_determinism(spark):
    """A-ES top-k: exact sample size, stable across partitioning, and
    the es_key really is ln(u)/w recomputed in Python."""
    import hashlib, math
    from dat_archive_map_reduce_spark.queries import QUERIES

    rows = QUERIES["corpus_weighted_sample_topk"](spark, SF).collect()
    assert len(rows) == 200
    rows2 = QUERIES["corpus_weighted_sample_topk"](spark, SF).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]
    r0 = rows[0]
    h = hashlib.md5(f"{r0['doc_id']}:es".encode()).hexdigest()
    u = sum((int(h[i], 16)) * 16.0 ** -(i + 1) for i in range(13))
    w = 2.0 if 50 <= r0["n_chars"] <= 10000 else 1.0
    # n_chars is the doc's char count; weight derives from len(text) --
    # recompute via the es_key inverse instead for a pure check
    assert any(abs(round(math.log(u) / wgt, 8) - r0["es_key"]) < 1e-12
               for wgt in (1.0, 2.0))


def test_driver_checked_names_latest_round_wins(tmp_path):
    """A query that regressed after once passing must re-enter the
    driver window: the LATEST round's verdict decides, not any stale
    green row."""
    import json
    import dat_archive_map_reduce_spark.queries as Q

    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_ok": {"hash_match": True, "err": None},
        "q_regressed": {"hash_match": True, "err": None},
        "q_weak": {"hash_match": None, "err": "no_oracle", "spark_rows": 5},
    }))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({
        "q_regressed": {"hash_match": False, "err": None},
    }))
    # point the scan at the temp repo root
    import unittest.mock as mock
    with mock.patch("glob.glob", lambda pat: sorted(
        str(p) for p in tmp_path.glob("CORRECTNESS_r*.json"))):
        green = Q._driver_green_rounds(Q._driver_rows_by_round())
    assert "q_ok" in green and "q_weak" in green
    assert "q_regressed" not in green
    # and the back-of-window ordering key is the green ROUND, so the
    # stalest green rotates into the 50-slot window first
    assert green["q_ok"] == 2 and green["q_weak"] == 2


def test_driver_green_rounds_orders_stalest_first(tmp_path):
    """Once green, a query's recheck priority is its last green round:
    oldest-green queries must sort ahead of fresher greens so the
    window round-robins instead of pinning to registration order."""
    import json

    import dat_archive_map_reduce_spark.queries as Q

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_old_green": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "q_new_green": {"hash_match": True, "err": None},
        "q_old_green": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps({
        "q_new_green": {"hash_match": True, "err": None},
    }))
    import unittest.mock as mock
    with mock.patch("glob.glob", lambda pat: sorted(
        str(p) for p in tmp_path.glob("CORRECTNESS_r*.json"))):
        green = Q._driver_green_rounds(Q._driver_rows_by_round())
    assert green == {"q_old_green": 3, "q_new_green": 5}


def test_blocklist_filter_whole_token_semantics(spark):
    """Whole-token blocklist matching: counts every occurrence, no
    substring false positives (the scunthorpe problem), extra columns
    pass through, clean docs keep kept=True."""
    df = spark.createDataFrame(
        [(1, "bad stuff bad", "s1"), (2, "badge of honor", "s1"),
         (3, "all clean here", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in
            TX.blocklist_filter(df, ["bad", "evil"]).collect()}
    assert rows[1]["n_hits"] == 2 and rows[1]["n_matched_terms"] == 1
    assert not rows[1]["kept"]
    assert rows[2]["n_hits"] == 0 and rows[2]["kept"]  # 'badge' != 'bad'
    assert rows[3]["kept"] and rows[3]["source"] == "s2"


def test_line_boilerplate_dedup_removes_planted_banner(spark):
    """A planted boilerplate line present in >= hot fraction of docs
    is stripped from EVERY doc; unique lines survive; counts are
    exact; a doc made entirely of boilerplate becomes empty."""
    docs = [(i, f"cookie banner unique{i} text{i}") for i in range(9)]
    docs.append((9, "cookie banner"))  # pure boilerplate doc
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.line_boilerplate_dedup(
        df, words_per_line=2, hot_num=1, hot_den=2).collect()}
    assert len(out) == 10
    for i in range(9):
        assert out[i]["n_lines"] == 2 and out[i]["n_removed"] == 1
        assert out[i]["text_clean"] == f"unique{i} text{i}"
    assert out[9]["n_removed"] == 1 and out[9]["text_clean"] == ""
    # below-threshold corpus: nothing removed (hot set empty array)
    quiet = TX.line_boilerplate_dedup(
        spark.createDataFrame([(1, "a b c d"), (2, "e f g h")],
                              "doc_id long, text string"),
        words_per_line=2, hot_num=9, hot_den=10)
    assert all(r["n_removed"] == 0 for r in quiet.collect())


def test_gate_window_clamps_partial_round_files():
    """A truncated/corrupt CORRECTNESS file must never SHRINK the
    hashed window below the observed driver behavior (an undercount
    parks deferred no-oracle queries inside the driver's real window,
    violating the one-slot budget); plausible growth is trusted,
    absurd growth falls back. Renamed/retired names in the newest
    round file must not shrink it either — row count is what's
    measured, not name matching."""
    import dat_archive_map_reduce_spark.queries as Q

    fb = Q._GATE_WINDOW_FALLBACK
    assert Q._gate_window([]) == fb
    truncated = [(9, {f"q{i}": {} for i in range(7)})]
    assert Q._gate_window(truncated) == fb
    # a full window of since-renamed names still counts as 50 rows
    renamed = [(9, {f"retired_q{i}": {} for i in range(fb)})]
    assert Q._gate_window(renamed) == fb
    grown = [(9, {f"q{i}": {} for i in range(fb + 10)})]
    assert Q._gate_window(grown) == fb + 10
    absurd = [(9, {f"q{i}": {} for i in range(fb * 5)})]
    assert Q._gate_window(absurd) == fb


def test_char_entropy_empty_doc_matches_oracle_absence(spark):
    """Empty text must produce NO output row (Spark's sequence(1,0) is
    descending [1,0] — the guard keeps it from fabricating chars)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, ""), (2, "ab")], "doc_id long, text string")
    chars = F.when(
        F.length("text") > 0,
        F.transform(F.sequence(F.lit(1), F.length("text")),
                    lambda i: F.col("text").substr(i, F.lit(1))),
    ).otherwise(F.array().cast("array<string>"))
    out = (df.select("doc_id", chars.alias("chs"))
             .select("doc_id", F.explode_outer("chs").alias("ch"))
             .filter(F.col("ch").isNotNull()))
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {2}


def test_bpe_assume_covered_raises_on_uncovered_word(spark):
    """assume_covered is an ASSERTION, not a license to drop data: a
    word outside the tokenizer vocabulary must fail the job loudly
    (raise_error in the left join) — an inner join would silently
    shrink both token and word counts."""
    import dat_archive_map_reduce_spark.operators.text as TXmod
    from py4j.protocol import Py4JJavaError

    dfA = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id long, text string"
    )
    _, seg = TXmod.bpe_train_tokenizer(dfA, "text", n_merges=2)
    dfB = spark.createDataFrame(
        [(2, "low zzznovel")], "doc_id long, text string"
    )
    with pytest.raises(Exception) as exc:
        TXmod.bpe_apply(dfB, [], "text", "doc_id", seg=seg,
                        assume_covered=True).collect()
    assert "not in the tokenizer vocabulary" in str(exc.value)


def test_batch_serving_empty_corpus_returns_empty(spark):
    """Portable retrieval over an empty corpus returns a typed empty
    result instead of crashing: the batch paths on .first()-based dim
    inference, the single-query paths on an empty codebook fetch."""
    emb_schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], emb_schema)
    queries = spark.createDataFrame(
        [(0, [1.0] * 8)], emb_schema
    )
    out = similarity.portable_lsh_batch_topk(empty, queries, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"qid", "vec_id", "cos_sim"}
    out2 = similarity.portable_pq_adc_batch_topk(empty, queries, m=4, k=5)
    assert out2.count() == 0
    assert set(out2.columns) == {"qid", "vec_id", "adc_dist"}
    qvec = [1.0] * 8
    out3 = similarity.portable_pq_adc_topk(empty, qvec, m=4, k=5)
    assert out3.count() == 0
    assert out3.columns == ["vec_id", "adc_dist"]
    out4 = similarity.portable_ivf_topk(empty, qvec, k=5)
    assert out4.count() == 0
    assert out4.columns == ["vec_id", "cos_sim"]


def test_codec_rejects_16bit_ppm_and_truncated_wav_chunk():
    """Strictness: a 16-bit PPM (maxval > 255) and a WAV whose data
    chunk declares more bytes than the buffer holds must RAISE, not
    silently misparse."""
    import struct as st

    px16 = (np.arange(3 * 2 * 2, dtype=np.uint16) * 300).astype(">u2")
    buf = b"P6\n2 2\n65535\n" + px16.tobytes()
    with pytest.raises(ValueError, match="maxval"):
        multimodal.decode_ppm(buf)

    samples = np.arange(50, dtype=np.int16)
    wav = bytearray(multimodal.encode_wav(8000, samples))
    # inflate the declared data-chunk size past the buffer end
    data_pos = bytes(wav).index(b"data")
    wav[data_pos + 4 : data_pos + 8] = st.pack("<I", 4096)
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        multimodal.decode_wav(bytes(wav))


def test_pii_redact_masks_and_counts(spark):
    """Planted email/IP/phone strings are counted on the raw text and
    masked with class tokens; clean docs pass through untouched; the
    scrub is idempotent (class tokens match no pattern); extra columns
    survive."""
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org today", "s1"),
            (2, "server 10.0.255.7 and 192.168.1.1 up", "s1"),
            (3, "call +49-555-0199 or +12-345-6789 now", "s2"),
            (4, "nothing sensitive here at all", "s2"),
            (5, "a@b.io pings 8.8.8.8 from +11-222-3333", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in TX.pii_redact(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 0
    assert out[1]["text_clean"] == "mail me at <EMAIL> today"
    assert out[2]["n_ip"] == 2
    assert out[2]["text_clean"] == "server <IP> and <IP> up"
    assert out[3]["n_phone"] == 2
    assert out[3]["text_clean"] == "call <PHONE> or <PHONE> now"
    assert out[4]["n_email"] == out[4]["n_ip"] == out[4]["n_phone"] == 0
    assert out[4]["text_clean"] == "nothing sensitive here at all"
    assert (
        out[5]["n_email"] == out[5]["n_ip"] == out[5]["n_phone"] == 1
        and out[5]["text_clean"] == "<EMAIL> pings <IP> from <PHONE>"
    )
    assert out[5]["source"] == "s3"
    # idempotence: a second pass over cleaned text changes nothing
    again = TX.pii_redact(
        spark.createDataFrame(
            [(r["doc_id"], r["text_clean"]) for r in out.values()],
            "doc_id long, text string",
        )
    ).collect()
    for r in again:
        assert r["n_email"] == r["n_ip"] == r["n_phone"] == 0
        assert r["text_clean"] == out[r["doc_id"]]["text_clean"]


def test_bloom_filter_no_false_negatives_and_bit_packing(spark):
    """Every value folded into the filter MUST probe positive (the
    Bloom guarantee); unseen values mostly probe negative; the filter
    is one map row whose words stay within 32 low bits (no sign-bit
    shifts, the DuckDB-compatible packing)."""
    build = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(200)], "digest string"
    )
    bloom = dedup.bloom_build(build, "digest")
    brow = bloom.collect()
    assert len(brow) == 1
    words = brow[0]["bloom"]
    assert all(0 <= w < (1 << 32) for w in words.values())
    assert all(0 <= idx < 64 for idx in words.keys())
    # members: all k bits set, bloom_hit true for every build value
    hits = dedup.bloom_probe(build, "digest", bloom).collect()
    assert all(r["bloom_hit"] for r in hits)
    # fresh values: mostly negative at this load factor (n=200,
    # m=2048, k=4 -> fp ~ 2.4%); assert a safe bound, and that at
    # least one negative exists so the probe path is exercised
    fresh = spark.createDataFrame(
        [(f"new-{i}",) for i in range(200)], "digest string"
    )
    fp = [r["bloom_hit"] for r in dedup.bloom_probe(fresh, "digest", bloom).collect()]
    assert sum(fp) < 40 and not all(fp)


def test_logreg_train_learns_separable_labels(spark):
    """On a linearly separable corpus (positives and negatives use
    disjoint vocabularies) batch GD must rank every positive above
    every negative after a few rounds, the bias must track the class
    prior, and scoring is pure serving (no label column needed)."""
    pos = [(i, 1.0, "good clean quality prose text") for i in range(20)]
    neg = [(100 + i, 0.0, "spam junk casino pills scam") for i in range(20)]
    df = spark.createDataFrame(pos + neg, "doc_id long, y double, text string")
    w = TX.logreg_train_hashed(df, "y", n_buckets=32, lr=4.0, n_rounds=4)
    scores = {
        r["doc_id"]: r["score"]
        for r in TX.logreg_score(df, w, n_buckets=32).collect()
    }
    lo_pos = min(scores[i] for i, _, _ in pos)
    hi_neg = max(scores[i] for i, _, _ in neg)
    assert lo_pos > hi_neg, (lo_pos, hi_neg)
    assert lo_pos > 0.5 and hi_neg < 0.5
    # weight table shape: one row per bucket plus the bias at -1
    rows = {r["bucket"]: r["w"] for r in w.collect()}
    assert set(rows) == set(range(-1, 32))
    # balanced classes, symmetric vocab -> bias stays near zero while
    # feature weights separate
    assert abs(rows[-1]) < 0.5
    assert any(abs(v) > 0.05 for b, v in rows.items() if b >= 0)


def test_url_canonicalize_noise_classes(spark):
    """Each noise class collapses: WWW./www. strip (any case),
    host lowercased while the PATH keeps its case, tracking params
    dropped from both '?' and '&' positions (a real param survives
    and is re-anchored to '?'), fragments and dangling/trailing
    slashes removed; an already-canonical URL is a fixed point."""
    df = spark.createDataFrame(
        [
            (1, "https://WWW.Site7.COM/p/AB12/?utm_source=x#frag"),
            (2, "https://site3.com/p/cd34?id=5&utm_medium=y"),
            (3, "https://site1.com/p/ef56?utm_campaign=z&id=9"),
            (4, "http://Site9.com/P/Keep/"),
            (5, "https://site2.com/a/b?id=1&x=2"),
            (6, "https://site4.com/p/77aa?gclid=abc"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in TX.url_canonicalize(df).collect()}
    assert out[1]["url_canon"] == "https://site7.com/p/AB12"
    assert out[1]["domain"] == "site7.com"
    assert out[2]["url_canon"] == "https://site3.com/p/cd34?id=5"
    assert out[3]["url_canon"] == "https://site1.com/p/ef56?id=9"
    assert out[4]["url_canon"] == "http://site9.com/P/Keep"
    assert out[5]["url_canon"] == "https://site2.com/a/b?id=1&x=2"
    assert out[6]["url_canon"] == "https://site4.com/p/77aa"
    # idempotence: canonicalizing canonical output changes nothing
    again = TX.url_canonicalize(
        spark.createDataFrame(
            [(k, r["url_canon"]) for k, r in out.items()],
            "doc_id long, url string",
        )
    ).collect()
    for r in again:
        assert r["url_canon"] == out[r["doc_id"]]["url_canon"]


def test_filter_funnel_first_fail_attribution_and_conservation(spark):
    """Each doc drops at its FIRST failing stage only, and the funnel
    conserves: n_in[0] == total, n_out[i] == n_in[i+1], and
    sum(n_dropped) + final n_out == total."""
    import dat_archive_map_reduce_spark.operators.text as TX

    good = "the quick brown fox and the lazy dog " * 5  # 45 words, stops
    docs = [
        (1, good),                       # passes everything
        (2, "too short the and"),        # fails words (stage 1) only
        # 30+ one-char words: passes words band, fails mean_wl (stage 2)
        (3, " ".join(["a"] * 35)),
        # 30+ numeric words: mean_wl ok only if len>=3 -> use '123'
        # tokens (alpha_frac 0, mean_wl 3): fails alpha (stage 3)
        (4, " ".join(["123"] * 35)),
        # alpha ok but drenched in '#': fails symbol (stage 4)
        (5, " ".join(["word#"] * 20) + " " + good),
        # clean words, no stopwords: fails stopwords (stage 5)
        (6, " ".join(["zebra", "quux", "word"] * 12)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = TX.filter_funnel(df).collect()
    assert [r["stage"] for r in rows] == [
        "words", "mean_word_length", "alpha_fraction",
        "symbol_ratio", "stopwords",
    ]
    assert rows[0]["n_in"] == len(docs)
    for a, b in zip(rows, rows[1:]):
        assert a["n_out"] == b["n_in"]
        assert a["n_in"] == a["n_dropped"] + a["n_out"]
    # doc 5: symbol-heavy text also keeps stopwords, so it must be
    # attributed to stage 4, not 5
    dropped = {r["stage"]: r["n_dropped"] for r in rows}
    assert dropped == {
        "words": 1, "mean_word_length": 1, "alpha_fraction": 1,
        "symbol_ratio": 1, "stopwords": 1,
    }
    assert rows[-1]["n_out"] == 1  # only doc 1 survives


def test_pagerank_regular_graph_is_uniform_and_mass_conserves(spark):
    """On a directed cycle (1-regular) every rank is exactly 1/n; the
    rank vector always sums to ~1 (damping + dangling handled)."""
    from dat_archive_map_reduce_spark.operators.graph import pagerank

    n = 8
    nodes = spark.range(n).withColumnRenamed("id", "node")
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    got = pagerank(nodes, edges, n_iter=4).collect()
    for r in got:
        assert abs(r["rank"] - 1.0 / n) < 1e-8
    assert abs(sum(r["rank"] for r in got) - 1.0) < 1e-6


def test_pagerank_star_and_dangling(spark):
    """Star graph: the hub (all leaves point to it) outranks every
    leaf; the hub itself has no out-edges (dangling), yet total mass
    stays ~1 because dangling mass redistributes uniformly."""
    from dat_archive_map_reduce_spark.operators.graph import pagerank

    n = 6  # node 0 = hub, 1..5 leaves -> hub
    nodes = spark.range(n).withColumnRenamed("id", "node")
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, n)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(nodes, edges, n_iter=3).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    leaf = ranks[1]
    assert all(abs(ranks[i] - leaf) < 1e-9 for i in range(2, n))
    assert ranks[0] > 2 * leaf


def test_pagerank_conserves_mass_with_unknown_endpoints(spark):
    """Edges whose endpoint is NOT in the node table are dropped
    before outdegree is computed, so rank mass still sums to exactly
    ~1 (previously such edges silently leaked mass): node 0's edge to
    ghost node 99 is ignored, its remaining edge carries full rank,
    and node 2 (only in-link from the ghost) gets teleport+dangling
    share only."""
    from dat_archive_map_reduce_spark.operators.graph import pagerank

    nodes = spark.range(3).withColumnRenamed("id", "node")
    edges = spark.createDataFrame(
        [(0, 1), (0, 99), (99, 2), (1, 0)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(nodes, edges, n_iter=3).collect()}
    assert set(ranks) == {0, 1, 2}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    # ghost in-link contributed nothing: 2 only receives teleport +
    # dangling share, strictly less than the linked nodes
    assert ranks[2] < ranks[0] and ranks[2] < ranks[1]


def test_pagerank_matches_numpy_power_iteration(spark):
    """3 damped iterations on an irregular multi-edge graph equal the
    dense numpy power iteration with the same per-round quantization."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.graph import pagerank

    n = 5
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 2), (4, 0)]
    nodes = spark.range(n).withColumnRenamed("id", "node")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(nodes, edges, n_iter=3).collect()}

    deg = np.zeros(n)
    for s, _ in edge_list:
        deg[s] += 1
    r = np.round(np.full(n, 1.0 / n), 9)
    for _ in range(3):
        contrib = np.zeros(n)
        for s, d in edge_list:
            contrib[d] += r[s] / deg[s]
        dm = r[deg == 0].sum()
        # (1.0 - 0.85), not the literal 0.15: the engine computes the
        # teleport term by subtraction, one ulp above the 0.15 literal
        r = np.round((1.0 - 0.85) / n + 0.85 * (contrib + dm / n), 9)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """Every near-dup cluster lands in exactly ONE split — the whole
    point of splitting on cluster_id instead of doc_id — and the
    assignment matches the doc-id split rule applied to cluster ids."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    out = QUERIES["corpus_leakage_safe_split"](spark, SF)
    rows = out.collect()
    assert len(rows) == 500
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # at least one real multi-doc cluster exists at this SF, so the
    # invariant is exercised, not vacuous
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in rows)
    assert max(sizes.values()) >= 2
    import hashlib

    for r in rows[:50]:
        h = hashlib.md5(str(r["cluster_id"]).encode()).hexdigest()[:2]
        want = "train" if h < "cd" else ("val" if h < "e6" else "test")
        assert r["split"] == want


def test_vocab_coverage_monotone_and_exact_at_full_vocab(spark):
    """Coverage grows with vocab size, stays in (0, 1], n_types is
    capped by the true type count, and when the vocab covers every
    type the coverage is exactly 1."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    rows = {
        r["vocab_size"]: r
        for r in QUERIES["corpus_vocab_coverage"](spark, SF).collect()
    }
    assert sorted(rows) == [100, 1000, 10000]
    cov = [rows[v]["coverage"] for v in (100, 1000, 10000)]
    assert 0 < cov[0] <= cov[1] <= cov[2] <= 1.0
    for v in (100, 1000, 10000):
        assert rows[v]["n_types"] <= v
    # the sf0.001 corpus has < 10k distinct tokens, so the largest
    # vocab covers everything exactly
    if rows[10000]["n_types"] < 10000:
        assert rows[10000]["coverage"] == 1.0


def test_png_codec_roundtrip_exact_all_filters():
    """PNG is lossless: encode -> decode is bit-exact for gray and
    RGB, under every per-row filter choice including all-Paeth."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=11 * 13, dtype=np.int64).astype(np.uint8)
    for pick in (None, (lambda r: r % 5), (lambda r: 4), (lambda r: 3)):
        w, h, ch, out = decode_png(encode_png(13, 11, gray, 1, pick))
        assert (w, h, ch) == (13, 11, 1)
        assert np.array_equal(out, gray)
    rgb = rng.integers(0, 256, size=9 * 6 * 3, dtype=np.int64).astype(np.uint8)
    w, h, ch, out = decode_png(encode_png(9, 6, rgb, 3, lambda r: (r * 2) % 5))
    assert (w, h, ch) == (9, 6, 3)
    assert np.array_equal(out, rgb)


def test_png_codec_rejects_corruption_and_unsupported():
    """Truncation, CRC damage, interlace, and 16-bit depth raise
    ValueError — never a silent mis-decode."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dat_archive_map_reduce_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    px = np.arange(64, dtype=np.uint8)
    good = encode_png(8, 8, px)
    assert np.array_equal(decode_png(good)[3], px)
    with _pytest.raises(ValueError):
        decode_png(good[:-7])  # truncated IEND
    bad = bytearray(good)
    bad[40] ^= 0xFF  # corrupt an IDAT byte -> CRC mismatch
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError):
        decode_png(b"NOTAPNG" + good)
    # interlaced header
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
    inter = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="interlace"):
        decode_png(inter)
    # 16-bit depth
    ihdr16 = struct.pack(">IIBBBBB", 8, 8, 16, 0, 0, 0, 0)
    deep = _PNG_SIG + _png_chunk(b"IHDR", ihdr16) + _png_chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="8-bit"):
        decode_png(deep)


def test_png_header_dispatch_and_corpus_query(spark):
    """_decode_header reads PNG dims via the CRC-checked IHDR walk, and
    multimodal_png_decode's Spark result equals the generator algebra
    (the oracle's claim, re-derived in Python)."""
    import hashlib

    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        _decode_header,
        encode_png,
    )
    from dat_archive_map_reduce_spark.queries import ORACLE, QUERIES

    px = np.zeros(15 * 4, dtype=np.uint8)
    assert _decode_header(encode_png(15, 4, px)) == (15, 4, 1)

    assert "multimodal_png_decode" in QUERIES
    assert "multimodal_png_decode" in ORACLE
    rows = {r["media_id"]: r for r in
            QUERIES["multimodal_png_decode"](spark, SF).collect()}
    assert len(rows) == 24
    for i in (0, 9, 23):
        hb = hashlib.md5(str(i).encode()).digest()
        w, h = 8 + hb[0] % 24, 8 + hb[1] % 24
        r = rows[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_vals"] == w * h
        assert r["val_sum"] == sum((i * 13 + 5 * j) % 256 for j in range(w * h))
        assert r["val_first"] == (i * 13) % 256
        assert r["val_last"] == (i * 13 + 5 * (w * h - 1)) % 256


def test_cdc_chunking_edit_locality_and_coverage(spark):
    """CDC's defining property: a local edit (word inserted at the
    front) leaves the tail chunks' hashes intact — fixed-size blocks
    would all shift. Also pins coverage: chunk word-lengths sum to
    the doc's word count, and every chunk is non-empty."""
    import dat_archive_map_reduce_spark.operators.text as TX
    from pyspark.sql import functions as F

    words = [f"w{(i * 7) % 23}x{i % 11}" for i in range(120)]
    base = " ".join(words)
    edited = "zzz " + base  # one-word insertion at position 0
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["chunks"]
        for r in df.select(
            "doc_id", TX.cdc_chunk_structs("text").alias("chunks")
        ).collect()
    }
    for did, chunks in rows.items():
        n_words = 120 if did == 1 else 121
        assert sum(c["len"] for c in chunks) == n_words
        assert all(c["len"] >= 1 for c in chunks)
    h1 = [c["h"] for c in rows[1]]
    h2 = [c["h"] for c in rows[2]]
    assert len(h1) > 3  # boundaries actually fire on this text
    # all but the chunks overlapping the edit survive verbatim
    shared = set(h1) & set(h2)
    assert len(shared) >= len(h1) - 2
    # and the final chunks are identical (the tail never felt the edit)
    assert h1[-1] == h2[-1]

    # stats query wiring: n_dup_chunks counts cross-doc shared hashes
    stats = {
        r["doc_id"]: r
        for r in TX.cdc_chunk_stats(df, "text", "doc_id").collect()
    }
    assert stats[1]["n_chunks"] == len(h1)
    assert stats[1]["n_dup_chunks"] == sum(1 for h in h1 if h in set(h2))


def test_cdc_short_doc_single_chunk(spark):
    """Docs shorter than the gram window form exactly one chunk equal
    to the whole token stream."""
    import hashlib

    import dat_archive_map_reduce_spark.operators.text as TX

    df = spark.createDataFrame(
        [(1, "tiny doc here"), (2, "one")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["chunks"]
        for r in df.select(
            "doc_id", TX.cdc_chunk_structs("text").alias("chunks")
        ).collect()
    }
    assert len(rows[1]) == 1 and rows[1][0]["len"] == 3
    assert rows[1][0]["h"] == hashlib.md5(b"tiny doc here").hexdigest()
    assert len(rows[2]) == 1 and rows[2][0]["len"] == 1


def test_kcenter_greedy_matches_numpy_and_radii_decrease(spark):
    """The distributed farthest-point loop equals a pure-numpy greedy
    reference (ids, order, radii), radii are non-increasing, and the
    last radius upper-bounds every point's distance to the final set
    (the k-center coverage guarantee)."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.similarity import kcenter_select

    rng = np.random.default_rng(11)
    X = rng.normal(size=(40, 6)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    k = 5
    got = kcenter_select(df, k=k, start_id=0)

    chosen = [0]
    radii = [0.0]
    d2 = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        far = int(np.lexsort((np.arange(40), -d2))[0])
        radii.append(round(float(d2[far]), 6))
        chosen.append(far)
        d2 = np.minimum(d2, ((X - X[far]) ** 2).sum(axis=1))
    assert [(i, c) for i, c, _ in got] == list(enumerate(chosen))
    for (_, _, r_got), r_want in zip(got, radii):
        assert abs(r_got - r_want) < 1e-9
    rs = [r for _, _, r in got[1:]]
    assert all(a >= b for a, b in zip(rs, rs[1:]))
    # coverage: after k picks no point is farther than the last radius
    assert d2.max() <= rs[-1] + 1e-9


def test_skyline_2d_matches_bruteforce_dominance(spark):
    """Bucketed skyline equals the O(n^2) dominance definition on a
    random integer point set with deliberate duplicates and tied
    coordinates; duplicates of a frontier point all survive."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.ranking import skyline_2d

    rng = np.random.default_rng(23)
    pts = rng.integers(0, 12, size=(120, 2)).tolist()
    pts += pts[:10]  # exact duplicates
    rows = [(i, int(x), int(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "rid long, x long, y long")
    got = sorted(r["rid"] for r in skyline_2d(df, "x", "y").collect())

    def dominated(i):
        xi, yi = pts[i]
        return any(
            (xj >= xi and yj >= yi and (xj > xi or yj > yi))
            for j, (xj, yj) in enumerate(pts)
            if j != i
        )

    want = sorted(i for i in range(len(pts)) if not dominated(i))
    assert got == want
    # both copies of any duplicated frontier point survive
    dup_frontier = [i for i in want if i >= 120]
    for i in dup_frontier:
        assert i - 120 in want


def test_skyline_2d_fractional_x_exact_dominance(spark):
    """Strictly-greater-x semantics must hold for FRACTIONAL x (the
    review counterexample: a RANGE(1, ...) frame misses a neighbor
    greater by 0.5): B(1.5, 2) dominates A(1.0, 1), and brute force
    agrees on a random float point set."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.ranking import skyline_2d

    df = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 1.5, 2.0)], "rid long, x double, y double"
    )
    got = [r["rid"] for r in skyline_2d(df, "x", "y").collect()]
    assert got == [1]

    rng = np.random.default_rng(31)
    pts = rng.uniform(0, 3, size=(80, 2)).round(2).tolist()
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    big = spark.createDataFrame(rows, "rid long, x double, y double")
    got2 = sorted(r["rid"] for r in skyline_2d(big, "x", "y").collect())
    want = sorted(
        i
        for i, (xi, yi) in enumerate(pts)
        if not any(
            xj >= xi and yj >= yi and (xj > xi or yj > yi)
            for j, (xj, yj) in enumerate(pts)
            if j != i
        )
    )
    assert got2 == want


def test_mmr_empty_selected_set_degrades_to_relevance(spark):
    """selected_ids=[] (the greedy loop's first step) ranks by pure
    relevance with redundancy 0 — never NULL scores."""
    from dat_archive_map_reduce_spark.operators.similarity import mmr_select_step

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_select_step(df, query_id=0, selected_ids=[], lam=0.7, k=3).collect()
    assert all(r["mmr"] is not None for r in got)
    assert all(r["redundancy"] == 0.0 for r in got)
    # pure relevance order: the query itself ranks first (cos=1)
    assert [r["vec_id"] for r in got] == [0, 1, 2]


def test_pca_power_iteration_step_matches_numpy(spark):
    """One distributed power-iteration step equals the dense numpy
    computation with the same 6dp quantization, and w_unit has unit
    norm; on data with a dominant direction the step aligns with it."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.similarity import (
        pca_power_iteration_step,
    )

    rng = np.random.default_rng(5)
    d = 16  # perfect square: v0 = 0.25 exact
    X = (rng.normal(size=(60, d)) + np.outer(rng.normal(size=60) * 4, np.eye(d)[3])).round(3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = pca_power_iteration_step(df, "vec_id", "embedding").collect()

    mu = np.round(X.mean(axis=0), 6)
    Xc = X - mu
    u = np.round(Xc @ np.full(d, 0.25), 6)
    w = np.round(Xc.T @ u, 6)
    w_unit = np.round(w / np.sqrt((w * w).sum()), 6)
    assert [r["dim"] for r in got] == list(range(d))
    # 2e-6 tolerance: numpy rounds half-even, Spark/DuckDB half-up —
    # a value landing on the 5e-7 grid differs by exactly one quantum
    # (bit-exactness across engines is the oracle gate's job)
    for r in got:
        assert abs(r["w_raw"] - w[r["dim"]]) < 2e-6
        assert abs(r["w_unit"] - w_unit[r["dim"]]) < 2e-6
    assert abs(sum(r["w_unit"] ** 2 for r in got) - 1.0) < 1e-4
    # the planted direction (dim 3) dominates the step
    assert abs(got[3]["w_unit"]) == max(abs(r["w_unit"]) for r in got)


def test_standardize_embeddings_matches_numpy(spark):
    """z_norm2/z_sum equal numpy z-scores under the same 6dp stats
    quantization; a zero-variance dimension maps to 0 (never NaN)."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.similarity import (
        standardize_embeddings,
    )

    rng = np.random.default_rng(9)
    X = rng.normal(size=(50, 8)).round(3)
    X[:, 5] = 7.0  # constant dimension: sd == 0
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in standardize_embeddings(df).collect()}

    mu = np.round(X.mean(axis=0), 6)
    sd = np.round(X.std(axis=0), 6)
    Z = np.where(sd == 0, 0.0, (X - mu) / np.where(sd == 0, 1.0, sd))
    for i in range(50):
        assert abs(got[i]["z_norm2"] - round(float((Z[i] ** 2).sum()), 6)) < 1e-5
        assert abs(got[i]["z_sum"] - round(float(Z[i].sum()), 6)) < 1e-5
        assert not math.isnan(got[i]["z_norm2"])


def test_tfidf_topk_matches_naive(spark):
    """tfidf_topk_terms equals a naive per-doc python computation,
    including the rounded-score + term tiebreak ranking."""
    import math as _m

    from dat_archive_map_reduce_spark.operators.text import tfidf_topk_terms

    docs = [
        (0, "apple banana apple cherry"),
        (1, "banana banana cherry"),
        (2, "cherry date elderberry date"),
        (3, "apple"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["doc_id"], r["rank"], r["term"], r["tfidf"])
        for r in tfidf_topk_terms(df, "text", "doc_id", k=2)
        .orderBy("doc_id", "rank")
        .collect()
    ]

    n = len(docs)
    from collections import Counter

    dfreq = Counter()
    toks = {i: t.lower().split() for i, t in docs}
    for i in toks:
        dfreq.update(set(toks[i]))
    want = []
    for i in sorted(toks):
        cnt = Counter(toks[i])
        dl = len(toks[i])
        scored = sorted(
            (
                (round((c / dl) * _m.log((n + 1.0) / (dfreq[t] + 1.0)), 6), t)
                for t, c in cnt.items()
            ),
            key=lambda st: (-st[0], st[1]),
        )
        for rk, (s, t) in enumerate(scored[:2], start=1):
            want.append((i, rk, t, s))
    assert got == want


def test_kcore_peel_known_graph_with_cascade(spark):
    """4-clique + a 3-edge tail hung off it. At k=3 the whole tail
    peels in round 1 (every tail node starts below degree 3) and the
    clique survives. At k=2 the peel genuinely CASCADES across rounds
    — leaf 12 drops first, which exposes 11, which exposes 10 — so
    the multi-round bulk-synchronous semantics are exercised, not
    just a single pass."""
    from dat_archive_map_reduce_spark.operators.graph import kcore_peel

    # clique 0-1-2-3; tail 3-10, 10-11, 11-12 (chain)
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + tail, "src long, dst long")
    got = {r["node"]: r["degree"] for r in kcore_peel(edges, k=3, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    # k=2: the chain is NOT a 2-core (leaf 12 peels, then 11, then 10
    # — a 3-round cascade), the clique is
    got2 = {r["node"]: r["degree"] for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert set(got2) == {0, 1, 2, 3}
    assert got2[3] == 3  # tail edge gone


def test_mmr_prefers_diverse_over_redundant(spark):
    """MMR picks the diverse candidate over one nearly identical to an
    already-selected vector, even though the redundant one has higher
    raw query similarity; scores match a numpy recompute."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.similarity import mmr_select_step

    q = np.array([1.0, 0.0, 0.0, 0.0])
    s1 = np.array([0.9, 0.1, 0.0, 0.0])  # the only selected vector (id 1)
    redundant = np.array([0.9, 0.1, 0.05, 0.0])  # id 2: near-copy of s1
    diverse = np.array([0.6, 0.0, 0.8, 0.0])  # id 3: moderate rel, low red
    rows = [
        (0, [float(x) for x in q]),
        (1, [float(x) for x in s1]),
        (2, [float(x) for x in redundant]),
        (3, [float(x) for x in diverse]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_select_step(df, query_id=0, selected_ids=[1], lam=0.5, k=3).collect()

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    X = {0: q, 2: redundant, 3: diverse}
    for r in got:
        v = X[r["vec_id"]]
        rel = cos(v, q)
        red = cos(v, s1)
        assert abs(r["relevance"] - round(rel, 4)) < 2e-4
        assert abs(r["mmr"] - round(0.5 * rel - 0.5 * red, 4)) < 2e-4
    # the near-copy of s1 has HIGHER raw query similarity than the
    # diverse candidate, yet MMR ranks it below (redundancy penalty)
    ranked = [r["vec_id"] for r in got]
    assert ranked.index(3) < ranked.index(2)


def test_poisson_bootstrap_draws_are_deterministic_and_calibrated(spark):
    """Replicate draws re-derive exactly from python md5 (integer-exact
    inverse CDF), and the average multiplicity across (doc, rep) is ~1
    (Poisson(1) calibration)."""
    import hashlib

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    got = {r["rep"]: r for r in E.queries()["corpus_poisson_bootstrap"](spark, sf).collect()}
    assert set(got) == set(range(8))

    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, n_chars FROM '{sf}/documents.parquet'"
    ).fetchall()
    cutoffs = ["5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5", "ffd90f3b"]
    for rep in (0, 5):
        n_drawn = total = 0
        for doc_id, n_chars in docs:
            h = hashlib.md5(f"{doc_id}:{rep}".encode()).hexdigest()[:8]
            k = sum(h >= c for c in cutoffs)
            n_drawn += k
            total += k * n_chars
        assert got[rep]["n_drawn"] == n_drawn
        assert got[rep]["total_chars"] == total
    mean_k = sum(got[r]["n_drawn"] for r in got) / (8 * len(docs))
    assert 0.85 < mean_k < 1.15


def test_rake_keyphrases_handcrafted(spark):
    """Stopwords split candidate phrases; runs longer than
    max_phrase_len are dropped; the co-occurring multiword phrase
    outscores single words (RAKE's degree/freq favors longer
    phrases); scores match a hand computation."""
    from dat_archive_map_reduce_spark.operators.text import rake_keyphrases

    docs = [
        (0, "deep learning is deep learning for vision"),
        (1, "deep learning and vision"),
        (2, "one two three four five"),  # 5-token run: dropped (>3)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["phrase"]: (r["n_occurrences"], r["score"])
        for r in rake_keyphrases(df, "text", "doc_id", max_phrase_len=3, k=10).collect()
    }
    # candidate phrases: "deep learning" x3, "vision" x2
    assert set(got) == {"deep learning", "vision"}
    assert got["deep learning"][0] == 3
    assert got["vision"][0] == 2
    # word stats: deep/learning freq 3, degree 6 -> wscore 2 each;
    # vision freq 2, degree 2 -> wscore 1
    assert abs(got["deep learning"][1] - 4.0) < 1e-9
    assert abs(got["vision"][1] - 1.0) < 1e-9


def test_ndcg_eval_bounds_and_recompute(spark):
    """0 < ndcg <= 1, and dcg/idcg re-derive from a python recompute
    of the same ranked list and md5 grades."""
    import hashlib
    import math as _m

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    row = E.queries()["retrieval_ndcg_eval"](spark, sf).first()
    assert 0 < row["ndcg"] <= 1.0
    assert row["dcg"] <= row["idcg"]

    from dat_archive_map_reduce_spark.operators.text import bm25_topk
    from dat_archive_map_reduce_spark.sources.tables import load_table

    d = load_table(spark, sf, "documents")
    top = bm25_topk(d, "text", "doc_id", ["spark", "filter", "window"], k=10).collect()
    grades = [
        int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0], 16) % 4
        for r in top
    ]
    dcg = sum(
        (2**g - 1) / _m.log2(p + 1) for p, g in enumerate(grades, start=1)
    )
    idcg = sum(
        (2**g - 1) / _m.log2(p + 1)
        for p, g in enumerate(sorted(grades, reverse=True), start=1)
    )
    assert abs(row["dcg"] - round(dcg, 6)) < 1e-5
    assert abs(row["idcg"] - round(idcg, 6)) < 1e-5


def test_recursive_cte_depths_match_python(spark):
    """Spark 4 recursive-CTE depth labels equal the python DIV-4 walk
    for every node, and the per-depth rollup conserves the corpus."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    got = {r["depth"]: r for r in E.queries()["hierarchy_recursive_cte"](spark, sf).collect()}

    import duckdb

    ids = [r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM '{sf}/documents.parquet'").fetchall()]

    def depth(i):
        d = 0
        while i > 0:
            i //= 4
            d += 1
        return d

    from collections import Counter

    want = Counter(depth(i) for i in ids)
    assert {d: r["n_nodes"] for d, r in got.items()} == dict(want)
    assert sum(r["n_nodes"] for r in got.values()) == len(ids)


def test_variant_get_typed_paths_and_missing(spark):
    """VARIANT extraction: typed paths come back as the asked-for
    type, missing paths are NULL (not an error), and nested access
    works — the schema-on-read contract the shred query relies on."""
    df = spark.createDataFrame(
        [('{"k": 5, "tags": ["a", "b"], "m": {"x": 1.5}}',), ('{"k": 9}',)],
        "props string",
    )
    out = df.select(
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.m.x', 'double')").alias("mx"),
        F.expr("variant_get(parse_json(props), '$.absent', 'string')").alias("ab"),
        F.expr("variant_get(parse_json(props), '$.tags[1]', 'string')").alias("t1"),
    ).collect()
    assert [r["k"] for r in out] == [5, 9]
    assert out[0]["mx"] == 1.5 and out[1]["mx"] is None
    assert all(r["ab"] is None for r in out)
    assert out[0]["t1"] == "b" and out[1]["t1"] is None


def test_kcenter_stops_early_when_fewer_distinct_points_than_k(spark):
    """With only 3 distinct vectors among 6 rows and k=5, selection
    stops after the 3rd pick (farthest remaining distance 0) instead
    of padding the coreset with duplicate prototypes."""
    from dat_archive_map_reduce_spark.operators.similarity import kcenter_select

    pts = [[0.0, 0.0], [0.0, 0.0], [3.0, 0.0], [3.0, 0.0], [0.0, 4.0], [0.0, 4.0]]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts)], "vec_id long, embedding array<double>"
    )
    got = kcenter_select(df, k=5, start_id=0)
    assert len(got) == 3
    ids = [vid for _, vid, _ in got]
    assert len(set(tuple(pts[i]) for i in ids)) == 3  # all distinct prototypes
    assert all(r > 0 for _, _, r in got[1:])


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in C(3,2)=3 triangles), a square with one
    diagonal (diagonal nodes in 2, others 1), and a triangle-free
    star (empty result). Duplicate and reversed input edges must not
    change counts."""
    from dat_archive_map_reduce_spark.operators.graph import triangle_counts

    def run(pairs):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return {
            r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
        }

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert run(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # square 0-1-2-3 plus diagonal 0-2; reversed + duplicate edges
    sq = [(0, 1), (2, 1), (2, 3), (3, 0), (0, 2), (2, 0), (1, 0)]
    assert run(sq) == {0: 2, 2: 2, 1: 1, 3: 1}
    star = [(0, i) for i in range(1, 6)]
    assert run(star) == {}


def test_systematic_resample_conserves_budget_and_proportionality(spark):
    """The copy counts sum EXACTLY to the draw budget (N=1000), every
    count is within 1 of the real-valued target N*w/W, and docs too
    light for a grid point get zero copies (filtered out)."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    rows = QUERIES["corpus_systematic_resample"](spark, SF).collect()
    total = sum(r["n_copies"] for r in rows)
    assert total == 1000
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "n_chars"])
    w = dict(zip(t["doc_id"].to_pylist(), t["n_chars"].to_pylist()))
    W = sum(w.values())
    got = {r["doc_id"]: r["n_copies"] for r in rows}
    for did, wt in w.items():
        target = 1000 * wt / W
        assert abs(got.get(did, 0) - target) <= 1.0, (did, target)


def test_source_drift_kl_properties(spark):
    """KL >= 0 always; a source drawn from the corpus distribution
    scores ~0; a source with disjoint vocabulary scores far higher;
    identical-content sources tie exactly."""
    import dat_archive_map_reduce_spark.operators.text as TX

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = (
        [(i, common, "a") for i in range(10)]
        + [(100 + i, common, "b") for i in range(10)]
        + [(200 + i, "zzz qqq xxx www vvv uuu ttt sss", "weird")
           for i in range(2)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in
           TX.source_drift_kl(df, "text", "source").collect()}
    assert set(out) == {"a", "b", "weird"}
    for r in out.values():
        assert r["kl_bits"] >= 0.0
    assert out["a"]["kl_bits"] == out["b"]["kl_bits"]  # identical content
    assert out["weird"]["kl_bits"] > out["a"]["kl_bits"] + 0.1


def test_classifier_calibration_equal_mass_and_monotone_scores(spark):
    """10 equal-mass deciles (sizes within 1), mean predicted score
    strictly ordered by bin (rank-based bins guarantee it), doc count
    conserved, and the score ranking carries signal: the top decile's
    observed positive rate beats the bottom decile's."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    rows = sorted(
        QUERIES["corpus_classifier_calibration"](spark, SF).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in rows] == list(range(10))
    sizes = [r["n_docs"] for r in rows]
    assert sum(sizes) == 500
    assert max(sizes) - min(sizes) <= 1
    preds = [r["mean_pred"] for r in rows]
    assert all(a <= b for a, b in zip(preds, preds[1:]))
    assert rows[-1]["pos_rate"] > rows[0]["pos_rate"]


def test_weighted_percentiles_match_numpy_inverse_cdf(spark):
    """The distributed weighted quantiles equal a direct inverse-CDF
    computation over the same (value, weight) pairs, and weighting
    matters: a corpus where token mass concentrates in long docs puts
    wp50 far above the unweighted median length."""
    import numpy as np

    from dat_archive_map_reduce_spark.queries import QUERIES

    row = QUERIES["agg_weighted_percentiles"](spark, SF).collect()[0]
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text", "n_chars"])
    pairs = sorted(
        (nc, did, len(tx.split(" ")))
        for did, tx, nc in zip(
            t["doc_id"].to_pylist(), t["text"].to_pylist(), t["n_chars"].to_pylist()
        )
        if len(tx.split(" ")) > 0
    )
    wts = np.array([w for _, _, w in pairs], dtype=np.int64)
    vals = [v for v, _, _ in pairs]
    cw = np.cumsum(wts)
    W = int(cw[-1])
    for q100, col in ((50, "wp50"), (90, "wp90"), (99, "wp99")):
        idx = int(np.searchsorted(cw * 100, W * q100))
        assert row[col] == vals[idx], (col, row[col], vals[idx])


def test_token_fertility_hand_computed(spark):
    """Fertility on a crafted frame equals hand arithmetic: 'hello
    worldliness!' = 2 words; pieces ceil(5/4)+ceil(11/4) = 2+3 = 5."""
    import dat_archive_map_reduce_spark.operators.text as TX
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hello worldliness!", "en"), (2, "ab cd", "xx")],
        "doc_id long, text string, lang string",
    )
    got = {
        r["lang"]: r
        for r in df.select(
            "lang", TX.bpe_ish_token_count("text").alias("n_bpe")
        ).collect()
    }
    assert got["en"]["n_bpe"] == 5  # ceil(5/4) + ceil(11/4)
    assert got["xx"]["n_bpe"] == 2  # two 2-char pieces


def test_source_dup_matrix_counts_shared_prefixes_once(spark):
    """A prefix digest shared by sources a and b counts ONCE per pair
    even when each source holds it in many documents (the distinct
    grain), and non-shared prefixes never pair."""
    from dat_archive_map_reduce_spark.queries import QUERIES
    import tempfile, os
    import pyspark.sql.functions as F

    pre = "alpha beta gamma delta epsilon"
    rows = [
        (1, pre + " one", "en", "src_a", 10),
        (2, pre + " two", "en", "src_a", 10),   # same prefix, same src
        (3, pre + " three", "en", "src_b", 10),  # same prefix, other src
        (4, "zeta eta theta iota kappa x", "en", "src_b", 10),
        (5, pre + " four", "en", "src_c", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            (r["source_a"], r["source_b"]): r["n_shared_prefixes"]
            for r in QUERIES["corpus_source_dup_matrix"](spark, td).collect()
        }
    assert out == {
        ("src_a", "src_b"): 1,
        ("src_a", "src_c"): 1,
        ("src_b", "src_c"): 1,
    }


def test_neyman_allocation_sums_to_budget_and_tracks_variance(spark):
    """Both allocations sum to ~1000, and a stratum with double the
    spread at equal size gets ~double the Neyman budget while the
    proportional allocation ignores it."""
    from dat_archive_map_reduce_spark.queries import QUERIES
    import tempfile, os

    rows = []
    for i in range(100):
        rows.append((i, "t", "en", "tight", 100 + (i % 2)))       # tiny spread
        rows.append((1000 + i, "t", "en", "wide", 100 + 50 * (i % 2)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["source"]: r
            for r in QUERIES["corpus_neyman_allocation"](spark, td).collect()
        }
    assert abs(sum(r["neyman_n"] for r in out.values()) - 1000) < 0.01
    assert abs(sum(r["proportional_n"] for r in out.values()) - 1000) < 0.01
    assert out["tight"]["proportional_n"] == out["wide"]["proportional_n"]
    assert out["wide"]["neyman_n"] > 10 * out["tight"]["neyman_n"]


def test_perceptual_dhash_recall_and_separation(spark):
    """Perceptual dedup contract on the closed-form corpus: the noise
    variant (byte-distinct, +1 on odd pixels) hashes IDENTICALLY to
    its base; the local-edit variant lands within Hamming distance 1;
    no cross-cluster pair survives the distance-4 threshold — and the
    pigeonhole candidate stage finds every qualifying pair (exact
    recall, guaranteed by construction, asserted here)."""
    media = multimodal.perceptual_media_corpus(spark, n_base=8)
    sigs = {r["media_id"]: r["dhash"] for r in multimodal.image_dhash(media).collect()}
    assert len(sigs) == 24
    for b in range(8):
        assert sigs[3 * b + 1] == sigs[3 * b], "noise variant must hash equal"
        d = bin(sigs[3 * b + 2] ^ sigs[3 * b]).count("1")
        assert d <= 1, f"local edit drifted to distance {d}"
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.dhash_near_pairs(media, max_distance=4).collect()
    }
    # every within-cluster pair found, each with its structural distance
    for b in range(8):
        ids = [3 * b, 3 * b + 1, 3 * b + 2]
        assert pairs[(ids[0], ids[1])] == 0
        assert pairs[(ids[0], ids[2])] <= 1
        assert pairs[(ids[1], ids[2])] <= 1
    # no cross-cluster pair within the threshold
    assert all(a // 3 == b // 3 for a, b in pairs)
    # bytes really differ (the digest-dedup counterexample)
    contents = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    assert contents[0] != contents[1] and sigs[0] == sigs[1]


def test_audio_fingerprint_polarity_invariance(spark):
    """Audio perceptual-dedup contract: polarity inversion (byte-
    distinct PCM) fingerprints identically; the one-frame edit lands
    within distance 1; no cross-cluster pair survives threshold 4."""
    media = multimodal.audio_fingerprint_corpus(spark, n_base=6)
    sigs = {r["media_id"]: r["afp"] for r in multimodal.audio_fingerprint(media).collect()}
    assert len(sigs) == 18
    for b in range(6):
        assert sigs[3 * b + 1] == sigs[3 * b]
        assert bin(sigs[3 * b + 2] ^ sigs[3 * b]).count("1") <= 1
    pairs = {(r["id_a"], r["id_b"]) for r in multimodal.audio_near_pairs(media).collect()}
    for b in range(6):
        assert (3 * b, 3 * b + 1) in pairs and (3 * b, 3 * b + 2) in pairs
    assert all(a // 3 == b // 3 for a, b in pairs)


def test_kmv_set_algebra_estimates_near_exact(spark):
    """KMV sketch algebra must land near the exact set sizes (k=256
    -> ~6% std error; assert within 20%) — proves the estimator
    branch is live, not just oracle-consistent."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    row = QUERIES["sketch_kmv_set_algebra"](spark, sf).first()
    d = spark.read.parquet(sf + "/documents.parquet")

    def exact(langs):
        t = F.split(F.lower("text"), " ")
        sh = F.when(
            F.size(t) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(" ", F.element_at(t, i),
                                      F.element_at(t, i + 1), F.element_at(t, i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            d.filter(F.col("lang").isin(*langs))
            .select(F.explode(sh).alias("s")).distinct().count()
        )

    ea, eb, eu = exact(["en"]), exact(["es"]), exact(["en", "es"])
    for est, true in [(row["est_a"], ea), (row["est_b"], eb),
                      (row["est_union"], eu),
                      (row["est_intersection"], ea + eb - eu)]:
        assert abs(est - true) / true < 0.20, (est, true)


def test_hll_portable_estimate_near_exact(spark):
    """Portable HLL (m=256) must estimate within ~3 std errors (20%)
    of the exact distinct count at both gate SFs — proves the
    register math is a real HLL, not just oracle-consistent."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        row = QUERIES["approx_distinct_hll_portable"](spark, sf).first()
        exact = (
            spark.read.parquet(sf + "/lineitem.parquet")
            .select("l_partkey").distinct().count()
        )
        assert abs(row["hll_estimate"] - exact) / exact < 0.20


def test_bmp_codec_roundtrip_and_traps():
    """BMP is lossless: encode -> decode is bit-exact in both row
    orders and at every stride-padding residue; the decoder really
    reads the stored bytes (a hand-flipped padding byte changes
    nothing, a flipped pixel byte changes exactly one value)."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(11)
    # widths 8..11 cycle all four (w*3) % 4 padding residues
    for w in (8, 9, 10, 11):
        for top_down in (False, True):
            rgb = rng.integers(0, 256, size=w * 5 * 3, dtype=np.int64).astype(
                np.uint8
            )
            w2, h2, out = decode_bmp(encode_bmp(w, 5, rgb, top_down=top_down))
            assert (w2, h2) == (w, 5)
            assert np.array_equal(out, rgb)
    # row order is real: bottom-up and top-down files of the same
    # pixels differ on disk but decode identically
    rgb = rng.integers(0, 256, size=9 * 4 * 3, dtype=np.int64).astype(np.uint8)
    up = encode_bmp(9, 4, rgb, top_down=False)
    down = encode_bmp(9, 4, rgb, top_down=True)
    assert up != down
    assert np.array_equal(decode_bmp(up)[2], decode_bmp(down)[2])
    # BGR order is real: byte 0 of the pixel array is the BLUE channel
    pixel_off = 54
    assert up[pixel_off] == rgb.reshape(4, 9, 3)[3, 0, 2]  # bottom row first


def test_bmp_codec_rejects_corruption_and_unsupported():
    import struct

    import numpy as np
    import pytest as _pytest

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rgb = np.arange(9 * 4 * 3, dtype=np.int64).astype(np.uint8)
    good = encode_bmp(9, 4, rgb)
    assert np.array_equal(decode_bmp(good)[2], rgb)
    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + good[2:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(good[:-5])
    # 8-bit palette BMP rejected (bpp field at offset 28)
    bad = bytearray(good)
    struct.pack_into("<H", bad, 28, 8)
    with _pytest.raises(ValueError, match="24-bit"):
        decode_bmp(bytes(bad))
    # RLE compression rejected (biCompression at offset 30)
    bad = bytearray(good)
    struct.pack_into("<I", bad, 30, 1)
    with _pytest.raises(ValueError, match="BI_RGB"):
        decode_bmp(bytes(bad))
    # OS/2 BITMAPCOREHEADER rejected (biSize at offset 14)
    bad = bytearray(good)
    struct.pack_into("<I", bad, 14, 12)
    with _pytest.raises(ValueError, match="OS/2"):
        decode_bmp(bytes(bad))
    # bfOffBits pointing inside the headers rejected (offset 10) —
    # would otherwise decode header bytes as pixels
    bad = bytearray(good)
    struct.pack_into("<I", bad, 10, 20)
    with _pytest.raises(ValueError, match="overlaps headers"):
        decode_bmp(bytes(bad))


def test_gif_codec_roundtrip_and_lzw_resets():
    """GIF is lossless at the index level: encode -> decode expands
    indexes through the palette bit-exactly, including a stream long
    and repetitive enough to force 4096-entry LZW table resets, and
    across palette sizes down to the 2-bit minimum code width."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (256, 3), dtype=np.int64).astype(np.uint8)
    for w, h in ((8, 5), (31, 17), (32, 32)):
        idx = rng.integers(0, 256, w * h, dtype=np.int64).astype(np.uint8)
        w2, h2, rgb = decode_gif(encode_gif(w, h, idx, pal))
        assert (w2, h2) == (w, h)
        assert np.array_equal(rgb, pal[idx].reshape(-1))
    # repetitive 15876-pixel stream -> multiple CLEAR resets
    idx = np.tile(np.arange(7, dtype=np.uint8), 3000)[: 126 * 126]
    _, _, rgb = decode_gif(encode_gif(126, 126, idx, pal[:8]))
    assert np.array_equal(rgb, pal[:8][idx].reshape(-1))
    # 4-entry palette: min code size clamps to 2
    idx = rng.integers(0, 4, 50, dtype=np.int64).astype(np.uint8)
    _, _, rgb = decode_gif(encode_gif(10, 5, idx, pal[:4]))
    assert np.array_equal(rgb, pal[:4][idx].reshape(-1))


def test_gif_codec_rejects_corruption_and_unsupported():
    import struct

    import numpy as np
    import pytest as _pytest

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    pal = np.arange(256 * 3, dtype=np.int64).reshape(256, 3) % 256
    idx = np.arange(40, dtype=np.int64) % 256
    good = encode_gif(8, 5, idx.astype(np.uint8), pal.astype(np.uint8))
    assert decode_gif(good)[0:2] == (8, 5)
    with _pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + good[7:])
    with _pytest.raises(ValueError):
        decode_gif(good[:-10])  # truncated LZW / missing trailer
    # interlace flag on the image descriptor (offset: 6+7 header+LSD
    # + 768 GCT + 9-byte descriptor; flags byte is its last byte)
    bad = bytearray(good)
    desc = 13 + 768
    assert bad[desc] == 0x2C
    bad[desc + 9] |= 0x40
    with _pytest.raises(ValueError, match="interlaced"):
        decode_gif(bytes(bad))
    # second image descriptor = animation -> rejected
    frame = good[desc:-1]  # descriptor through data blocks, no trailer
    with _pytest.raises(ValueError, match="multi-frame"):
        decode_gif(good[:-1] + frame + b"\x3b")


def test_tga_codec_roundtrip_and_rle_packets():
    """TGA type-10 RLE is lossless: encode -> decode is bit-exact for
    random pixels (raw packets), constant runs (run packets crossing
    the 128-pixel cap), both row orders, and the uncompressed type-2
    form; run-heavy content genuinely compresses; corruption and
    unsupported variants reject with ValueError (codec-family
    convention)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_tga,
        encode_tga,
    )

    rng = np.random.default_rng(11)
    for w, h, td, rle in [(9, 4, False, True), (13, 7, True, True),
                          (8, 8, False, False), (1, 1, True, True)]:
        rgb = rng.integers(0, 256, w * h * 3, dtype=np.int64).astype(np.uint8)
        w2, h2, out = decode_tga(encode_tga(w, h, rgb, top_down=td, rle=rle))
        assert (w2, h2) == (w, h) and np.array_equal(out, rgb)
    # >128-pixel constant run: the packet cap must split it
    flat = np.zeros(40 * 10 * 3, dtype=np.uint8) + 7
    enc = encode_tga(40, 10, flat)
    assert np.array_equal(decode_tga(enc)[2], flat)
    raw = encode_tga(40, 10, flat, rle=False)
    assert len(enc) < len(raw) / 10
    # bottom-up vs top-down decode to the same raster
    rgb = rng.integers(0, 256, 6 * 5 * 3, dtype=np.int64).astype(np.uint8)
    assert np.array_equal(
        decode_tga(encode_tga(6, 5, rgb, top_down=True))[2],
        decode_tga(encode_tga(6, 5, rgb, top_down=False))[2],
    )
    good = encode_tga(6, 5, rgb)
    with _pytest.raises(ValueError, match="truncated"):
        decode_tga(good[:30])
    # 32-bit depth rejected (offset 16)
    bad = bytearray(good)
    bad[16] = 32
    with _pytest.raises(ValueError, match="24-bit"):
        decode_tga(bytes(bad))
    # color-mapped rejected (offset 1)
    bad = bytearray(good)
    bad[1] = 1
    with _pytest.raises(ValueError, match="color-mapped"):
        decode_tga(bytes(bad))
    # monochrome image type rejected (offset 2)
    bad = bytearray(good)
    bad[2] = 3
    with _pytest.raises(ValueError, match="types 2/10"):
        decode_tga(bytes(bad))
    # RLE packet overrunning the pixel count rejected
    hdr = struct.pack("<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0, 2, 1, 24, 0)
    overrun = hdr + bytes([0x80 | 127]) + b"\\x01\\x02\\x03"
    with _pytest.raises(ValueError, match="overruns"):
        decode_tga(overrun)


def test_shingle_sets_row_local_contract(spark):
    """r15: shingle_sets assembles each doc's distinct shingle set
    row-locally (no shuffle). Pin the SEMANTICS the old window-lead
    form defined — short docs absent, consecutive-space empty tokens
    kept, within-doc repeats deduplicated — and the plan shape: no
    Window, no hash-partition-by-doc Exchange (the only allowed
    exchange is fan_out's guarded round-robin, which local relations
    always trigger), and the tokenizer evaluated ONCE (the Catalyst
    re-inlining traps the operator docstring records)."""
    docs = [
        (1, "a b c d"),          # 2 shingles: "a b c", "b c d"
        (2, "x y z"),            # exactly n tokens: 1 shingle
        (3, "p q"),              # n-1 tokens: ABSENT from output
        (4, ""),                 # 1 empty token: absent
        (5, "a  b c"),           # double space -> empty token rides
        (6, "r s t r s t r s"),  # repeats: set deduplicates
        (7, None),               # NULL text: absent
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = dedup.shingle_sets(df, "text", "doc_id", n=3)
    got = {r["doc"]: (sorted(r["sh"]), r["n_sh"]) for r in sets.collect()}
    assert set(got) == {1, 2, 5, 6}
    assert got[1] == (["a b c", "b c d"], 2)
    assert got[2] == (["x y z"], 1)
    assert got[5] == (sorted(["a  b", " b c"]), 2)  # empty middle token
    assert got[6] == (sorted(["r s t", "s t r", "t r s"]), 3)
    plan = sets._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(doc" not in plan
    # count split() in the FINAL plan only: after AQE finalizes,
    # toString() renders the initial plan too, duplicating every node
    assert plan.split("== Initial Plan ==")[0].count("split(lower") == 1


def test_span_postings_row_local_contract(spark):
    """r15: span_postings emits (doc, 0-based start pos, md5) for
    every maximal-overlap token window row-locally. Pin positions,
    within-doc repeat spans (NOT deduplicated), short-doc absence,
    and the no-Window/no-doc-partition plan shape."""
    import hashlib

    docs = [
        (1, "a b c d e"),  # span_len=3 -> pos 0,1,2
        (2, "a b"),        # too short: absent
        (3, "w w w w"),    # repeated span "w w w" at pos 0 AND 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.span_postings(df, "text", "doc_id", span_len=3)
    rows = sorted((r["doc"], r["pos"], r["h"]) for r in out.collect())
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert rows == sorted(
        [
            (1, 0, md5("a b c")), (1, 1, md5("b c d")), (1, 2, md5("c d e")),
            (3, 0, md5("w w w")), (3, 1, md5("w w w")),
        ]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(doc" not in plan


def test_bigram_lm_scores_row_local_bigrams(spark):
    """r15: bigram_lm_scores assembles bigrams row-locally (zip_with
    over token-array slices) — same add-k cross-entropy as the
    window-lead form it replaced. Hand-check a 2-doc corpus."""
    docs = [(1, "a b a b"), (2, "a b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.bigram_lm_scores(df, "text", "doc_id").collect()}
    # bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,b)
    # C(a,b)=3, C(b,a)=1, C(a)=3, C(b)=1, V=2
    pab = (3 + 0.5) / (3 + 0.5 * 2)
    pba = (1 + 0.5) / (1 + 0.5 * 2)
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["xent"] - round(-(2 * math.log(pab) + math.log(pba)) / 3, 4)) < 1e-9
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["xent"] - round(-math.log(pab), 4)) < 1e-9
    plan = TX.bigram_lm_scores(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
