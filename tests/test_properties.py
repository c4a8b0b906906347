"""Property-based tests (hypothesis) for the pure building blocks:
key canonicalization, glob matching, and range-predicate semantics;
and for the engine's delta folds, whose driver and executor
placements must agree with each other and with a from-scratch index.

These are the invariants the distributed operators rely on; checking
them exhaustively here keeps the Spark-level tests focused on plan
behavior instead of value edge cases.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from dat_archive_map_reduce_spark.functions.keys import key_json, normalize_key
from dat_archive_map_reduce_spark.sources.files import match_glob

scalar = st.one_of(
    st.text(max_size=20),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.booleans(),
)
key_strategy = st.one_of(scalar, st.lists(scalar, min_size=1, max_size=4))


@given(key_strategy)
@settings(max_examples=300)
def test_key_json_roundtrips(key):
    """key_json is valid JSON and parses back to the original
    (lists/tuples canonicalized to lists) — the property get() relies
    on for point-lookup equality."""
    kj = key_json(key if not isinstance(key, tuple) else list(key))
    parsed = json.loads(kj)
    expected = list(key) if isinstance(key, (list, tuple)) else key
    assert parsed == expected


@given(key_strategy, key_strategy)
@settings(max_examples=300)
def test_key_json_injective_on_distinct_keys(a, b):
    """Distinct keys never collide in canonical form (injectivity =
    no cross-key value mixing in the entries multimap). Scalar k and
    [k] are DISTINCT keys in the reference and must stay distinct."""
    na, nb = normalize_key(a), normalize_key(b)
    ja = key_json(a if not isinstance(a, (list, tuple)) else list(a))
    jb = key_json(b if not isinstance(b, (list, tuple)) else list(b))
    if ja == jb:
        # canonical equality must imply same components AND same shape
        assert na == nb
        assert isinstance(a, (list, tuple)) == isinstance(b, (list, tuple))


@given(st.text(alphabet=st.characters(blacklist_characters="\x00/"), max_size=12))
@settings(max_examples=200)
def test_glob_star_never_crosses_directories(name):
    """'/multi/*.json' matches only direct children — '*' must not
    cross '/' (anymatch semantics the reference's view globs assume)."""
    assert match_glob("/multi/*.json", f"/multi/{name}.json")
    assert not match_glob("/multi/*.json", f"/multi/{name}/deep.json")


@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30))
@settings(max_examples=20, deadline=None)
def test_latest_wins_keeps_max_version_per_path(spark, versions):
    """latest-wins compaction: one row per path, at its max version —
    checked against a straight python reduction."""
    from dat_archive_map_reduce_spark.sources.files import changelog_from_rows, latest_wins

    rows = [
        {
            "origin": "dat://x",
            "pathname": f"/f{v % 5}.json",
            "version": v + 1,
            "type": "del" if v % 7 == 0 else "put",
            "content": str(v),
        }
        for v in versions
    ]
    df = changelog_from_rows(spark, rows)
    got = {(r["pathname"]): (r["version"], r["type"]) for r in latest_wins(df).collect()}
    expected = {}
    for r in rows:
        cur = expected.get(r["pathname"])
        if cur is None or r["version"] > cur[0]:
            expected[r["pathname"]] = (r["version"], r["type"])
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_connected_components_matches_union_find(spark, edge_list):
    """BOTH connected-components paths — the single-task union-find
    (small-graph default) and the distributed alternating-star rounds
    (forced via small_graph_edges=0) — equal a plain union-find ground
    truth on arbitrary random graphs (self-loops and duplicates
    included), so the adaptive algorithm switch can never change
    labels."""
    from dat_archive_map_reduce_spark.operators.graph import connected_components

    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        (r.node, r.component)
        for r in connected_components(df, "src", "dst").collect()
    }
    got_star = {
        (r.node, r.component)
        for r in connected_components(
            df, "src", "dst", small_graph_edges=0
        ).collect()
    }
    assert got == got_star

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for a, b in edge_list if a != b for n in (a, b)}
    expected = {(n, find(n)) for n in nodes}
    assert got == expected


@given(
    st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=60, unique=True
    )
)
@settings(max_examples=10, deadline=None)
def test_exact_global_cumsum_matches_python_prefix(spark, ids):
    """Distributed exclusive prefix sum equals the sequential scan for
    any unique ordering column."""
    from dat_archive_map_reduce_spark.operators.ranking import exact_global_cumsum

    rows = [(i, (i * 7919) % 97 + 1) for i in ids]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.c for r in exact_global_cumsum(df, "k", "v", cumsum_col="c").collect()}
    acc, expected = 0, {}
    for k, v in sorted(rows):
        expected[k] = acc
        acc += v
    assert got == expected


@given(
    st.lists(
        st.integers(min_value=0, max_value=9).map(lambda i: f"t{i}"),
        min_size=1,
        max_size=90,
    )
)
@settings(max_examples=12, deadline=None)
def test_chunk_overlap_covers_every_token_exactly(spark, words):
    """Chunking invariants on random docs: (1) chunk k spans exactly
    positions [k*S, min(k*S+W, n)); (2) every token position is covered
    by >= 1 kept chunk as long as tails >= min_tail are kept plus the
    k=0 fallback — i.e. the union of kept chunk ranges equals [0, n)
    whenever the doc's final stride tail meets min_tail or fits in an
    earlier window."""
    from dat_archive_map_reduce_spark.operators.text import chunk_overlap

    W, S, MT = 16, 12, 4
    n = len(words)
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = chunk_overlap(df, "text", "doc_id", window=W, stride=S, min_tail=MT).collect()
    got = {r["chunk_idx"]: r for r in rows}
    # recompute expectations in plain python
    import math

    max_k = (n - 1) // S
    expect = {}
    for k in range(0, max_k + 1):
        length = min(W, n - k * S)
        if length >= MT or k == 0:
            expect[k] = length
    assert {k: r["chunk_len"] for k, r in got.items()} == expect
    covered = set()
    for k, length in expect.items():
        covered |= set(range(k * S, k * S + length))
    # coverage can only miss positions in a dropped sub-min_tail tail
    missing = set(range(n)) - covered
    assert all(p >= max_k * S for p in missing)


@given(
    st.lists(
        st.integers(min_value=0, max_value=5).map(lambda i: f"w{i}"),
        min_size=4,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_winnowing_density_and_determinism(spark, words):
    """Winnowing invariants on random docs (k=4, w=5): the sketch is
    non-empty whenever any 4-gram exists, never denser than the gram
    count, and identical across partition layouts (selection depends
    only on values and positions)."""
    from dat_archive_map_reduce_spark.operators.text import winnowing_stats

    docs = [
        (i, " ".join(words[i:] + words[:i])) for i in range(5)
    ]  # rotations: 5 docs sharing vocabulary
    key = lambda rows: [  # noqa: E731
        r.asDict() for r in sorted(rows, key=lambda r: r["doc_id"])
    ]
    rows1 = winnowing_stats(
        spark.createDataFrame(docs, "doc_id long, text string").repartition(1),
        "text", "doc_id",
    ).collect()
    rows7 = winnowing_stats(
        spark.createDataFrame(docs, "doc_id long, text string").repartition(7),
        "text", "doc_id",
    ).collect()
    assert key(rows1) == key(rows7)
    for r in rows1:
        assert 1 <= r["n_selected"] <= r["n_grams"]


# ---------------------------------------------------------------------
# round-4 pure-logic invariants: batched-BPE fold equivalence and
# UniMax waterfilling closed form
# ---------------------------------------------------------------------

_sym = st.text(alphabet="ab", min_size=1, max_size=2)


def _apply_rule_sequential(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _fold_with_map(syms, rule_map):
    """Pure-Python model of operators/text.py::_bpe_fold_batch's
    left-to-right fold: merge the last accumulated symbol with the
    incoming one whenever the pair is a batched rule."""
    acc = []
    for s in syms:
        if acc and (acc[-1], s) in rule_map:
            acc[-1] = rule_map[(acc[-1], s)]
        else:
            acc.append(s)
    return acc


@given(
    st.lists(_sym, min_size=0, max_size=12),
    st.lists(st.tuples(_sym, _sym), min_size=0, max_size=8),
)
@settings(max_examples=500)
def test_bpe_disjoint_batch_fold_equals_sequential(word, rules):
    """THE batching theorem the r4 BPE rework rests on: partition any
    rule list into consecutive symbol-disjoint prefixes
    (_bpe_disjoint_prefix) and apply each batch as ONE left-to-right
    fold — the result must equal applying every rule one at a time in
    order, for every word and every rule list."""
    from dat_archive_map_reduce_spark.operators.text import _bpe_disjoint_prefix

    want = list(word)
    for a, b in rules:
        want = _apply_rule_sequential(want, a, b)

    got = list(word)
    rest = list(rules)
    while rest:
        batch = _bpe_disjoint_prefix(rest)
        rest = rest[len(batch):]
        got = _fold_with_map(got, {(a, b): a + b for a, b in batch})
    assert got == want


def _unimax_sequential(caps, budget):
    """The UniMax paper's greedy loop: visit languages smallest-cap
    first; each takes min(cap, remaining / languages_left)."""
    order = sorted(range(len(caps)), key=lambda i: caps[i])
    alloc = [0.0] * len(caps)
    remaining = float(budget)
    for pos, i in enumerate(order):
        share = remaining / (len(caps) - pos)
        alloc[i] = min(caps[i], share)
        remaining -= alloc[i]
    return alloc


@given(
    st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=8),
    st.integers(min_value=0, max_value=5 * 10**6),
)
@settings(max_examples=500)
def test_unimax_waterfilling_closed_form_equals_greedy_loop(caps, budget):
    """The closed form corpus_unimax_budget uses — alloc = min(cap,
    theta) with theta = MAX over valid positions of
    (budget - prefix)/(langs remaining) in cap-ascending order — must
    equal the paper's sequential loop (this is the invariant whose
    min/max confusion the r4 property test caught)."""
    caps_f = [float(c) for c in caps]
    want = _unimax_sequential(caps_f, budget)

    order = sorted(range(len(caps_f)), key=lambda i: caps_f[i])
    n = len(caps_f)
    theta = None
    prefix = 0.0
    for pos, i in enumerate(order):
        t = (budget - prefix) / (n - pos)
        if t <= caps_f[i]:
            theta = t if theta is None else max(theta, t)
        prefix += caps_f[i]
    got = [min(c, theta) if theta is not None else c for c in caps_f]
    assert all(abs(g - w) < 1e-6 for g, w in zip(got, want)), (got, want)


@given(
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=1, max_value=13),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_ppm_codec_roundtrip_property(w, h, data):
    """encode_ppm/decode_ppm are exact inverses for every dimension
    and pixel payload — the invariant the multimodal_real_decode
    oracle proof rests on."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    px = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=3 * w * h,
                max_size=3 * w * h,
            )
        ),
        dtype=np.uint8,
    )
    got_w, got_h, maxval, got = decode_ppm(encode_ppm(w, h, px))
    assert (got_w, got_h, maxval) == (w, h, 255)
    assert np.array_equal(got, px)


@given(
    st.integers(min_value=1, max_value=192000),
    st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=64,
    ),
)
@settings(max_examples=60, deadline=None)
def test_wav_codec_roundtrip_property(sr, samples):
    """encode_wav/decode_wav are exact inverses for every sample rate
    and PCM16 payload, including odd sample counts (chunk padding)."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    arr = np.array(samples, dtype=np.int16)
    got_sr, got_ch, got = decode_wav(encode_wav(sr, arr))
    assert (got_sr, got_ch) == (sr, 1)
    assert np.array_equal(got, arr)


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=10),
    st.sampled_from([1, 3]),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_property(w, h, channels, data):
    """encode_png/decode_png are exact inverses for every dimension,
    channel count, pixel payload, and per-row filter assignment — the
    losslessness the multimodal_png_decode oracle proof rests on."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    n = w * h * channels
    px = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.uint8,
    )
    filters = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=4), min_size=h, max_size=h
        )
    )
    got_w, got_h, got_ch, got = decode_png(
        encode_png(w, h, px, channels, lambda r: filters[r])
    )
    assert (got_w, got_h, got_ch) == (w, h, channels)
    assert np.array_equal(got, px)


@given(
    st.lists(
        st.integers(min_value=0, max_value=30),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_cdc_chunks_partition_tokens_exactly(spark, word_ids):
    """CDC chunk word-lengths always partition the token stream: they
    sum to the doc's word count, every chunk is non-empty, and
    re-running the projection is deterministic (content-defined, no
    RNG, no partition dependence)."""
    import dat_archive_map_reduce_spark.operators.text as TX

    text = " ".join(f"t{i}" for i in word_ids)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out1 = df.select(TX.cdc_chunk_structs("text").alias("c")).collect()[0]["c"]
    out2 = (
        df.repartition(4)
        .select(TX.cdc_chunk_structs("text").alias("c"))
        .collect()[0]["c"]
    )
    assert [tuple(x) for x in out1] == [tuple(x) for x in out2]
    assert sum(c["len"] for c in out1) == len(word_ids)
    assert all(c["len"] >= 1 for c in out1)


@given(
    st.lists(
        st.integers(min_value=19000, max_value=19060), min_size=1, max_size=40
    )
)
@settings(max_examples=25, deadline=None)
def test_streak_fold_matches_brute_force(spark, days):
    """The packed-integer streak fold equals the obvious python scan
    for any multiset of day numbers (duplicates collapse, gaps reset,
    singletons count 1)."""
    from pyspark.sql import functions as F

    from dat_archive_map_reduce_spark.operators.ranking import longest_streak_expr

    uniq = sorted(set(days))
    best = cur = 1
    for a, b in zip(uniq, uniq[1:]):
        cur = cur + 1 if b == a + 1 else 1
        best = max(best, cur)
    df = spark.createDataFrame([(d,) for d in days], "day long")
    runs = df.groupBy().agg(
        F.array_sort(F.collect_set(F.col("day"))).alias("ds")
    )
    # the PRODUCTION fold (shared with events_longest_streak), not a
    # private copy — a fold regression must fail here
    got = runs.select(longest_streak_expr(F.col("ds")).alias("s")).first()["s"]
    assert got == best, (days, got, best)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # start
            st.integers(min_value=1, max_value=20),  # duration
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=25, deadline=None)
def test_concurrency_sweep_matches_brute_force(spark, spans):
    """The +1/-1 boundary sweep's peak equals the brute-force count of
    open half-open intervals [s, e) at every start instant."""
    from dat_archive_map_reduce_spark.operators.ranking import peak_concurrency

    ivals = [(s, s + d) for s, d in spans]
    brute = max(sum(1 for s, e in ivals if s <= t < e) for t, _ in ivals)
    df = spark.createDataFrame(ivals, "s long, e long")
    # the PRODUCTION sweep (shared with events_max_concurrency)
    row = peak_concurrency(df, "s", "e").first()
    assert row["max_concurrent"] == brute, (ivals, row, brute)
    # the reported peak instant really reaches the peak
    t = row["peak_at"]
    assert sum(1 for s, e in ivals if s <= t < e) == brute


def test_dhash_single_block_edit_flips_at_most_two_bits(spark):
    """dHash locality: editing ONE grid cell can flip at most its two
    horizontal comparisons — the property that makes the pigeonhole
    join's distance threshold meaningful for local edits."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators import multimodal as MM

    rng_vals = (7 * np.arange(64, dtype=np.int64) ** 2 + 13) % 251
    base = np.repeat(np.repeat(rng_vals.reshape(8, 8), 4, 0), 4, 1)

    def dhash_of(img):
        rgb = np.repeat(img.reshape(-1), 3).astype(np.uint8)
        content = MM.encode_ppm(32, 32, rgb)
        df = spark.createDataFrame(
            [(0, "image", bytearray(content), None)], MM.MEDIA_SCHEMA
        )
        return MM.image_dhash(df).first()["dhash"]

    h0 = dhash_of(base)
    for cell in [(0, 0), (3, 4), (7, 7), (2, 6)]:
        img = base.copy()
        r, c = cell
        img[4 * r : 4 * r + 4, 4 * c : 4 * c + 4] = (
            base[4 * r, 4 * c] + 97
        ) % 251
        d = bin(dhash_of(img) ^ h0).count("1")
        assert d <= 2, (cell, d)


# -- Avro container codec (driver-side core, no Spark) -----------------

_avro_cell = {
    "long": st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
    "double": st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=True, width=64),
    ),
    "string": st.one_of(st.none(), st.text(max_size=40)),
    "boolean": st.one_of(st.none(), st.booleans()),
    "binary": st.one_of(st.none(), st.binary(max_size=32)),
}


@given(
    st.lists(
        st.sampled_from(list(_avro_cell)), min_size=1, max_size=5
    ).flatmap(
        lambda kinds: st.tuples(
            st.just(kinds),
            st.lists(
                st.tuples(*[_avro_cell[k] for k in kinds]),
                min_size=0,
                max_size=50,
            ),
        )
    ),
    st.sampled_from(["null", "deflate"]),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=150, deadline=None)
def test_avro_container_roundtrips(case, codec, block):
    """encode_avro -> decode_avro is IDENTITY for every nullable
    primitive column mix, both codecs, and every block-size framing
    (multi-block containers included) — the property the Spark-level
    round-trip test relies on, checked exhaustively without a
    session. Extreme longs (int64 edges), +-inf doubles, empty
    strings/bytes, and all-null rows are all in the strategy."""
    from pyspark.sql import types as T

    from dat_archive_map_reduce_spark.sources.avro_io import (
        decode_avro,
        encode_avro,
    )

    kinds, rows = case
    spark_t = {
        "long": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "binary": T.BinaryType(),
    }
    schema = T.StructType(
        [T.StructField(f"c{i}", spark_t[k], True) for i, k in enumerate(kinds)]
    )
    buf = encode_avro(rows, schema, codec=codec, records_per_block=block)
    schema_back, rows_back = decode_avro(buf)
    assert [f.dataType for f in schema_back.fields] == [
        f.dataType for f in schema.fields
    ]
    assert len(rows_back) == len(rows)
    for got, want in zip(rows_back, rows):
        for g, w, k in zip(got, want, kinds):
            if k == "binary" and w is not None:
                assert bytes(g) == bytes(w)
            else:
                assert g == w, (k, g, w)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.booleans(),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=80, deadline=None)
def test_tga_codec_roundtrips(w, h, top_down, rle, seed):
    """encode_tga -> decode_tga is IDENTITY for arbitrary dimensions,
    both row orders, both image types, and pixel content ranging from
    fully random (raw packets) to seeded-constant stretches (run
    packets), including the 128-pixel packet-cap boundary."""
    import numpy as np

    from dat_archive_map_reduce_spark.operators.multimodal import (
        decode_tga,
        encode_tga,
    )

    rng = np.random.default_rng(seed)
    if seed % 3 == 0:
        # run-heavy: long constant stretches exercise the packet cap
        flat = np.repeat(
            rng.integers(0, 256, max(1, w * h // 100 + 1), dtype=np.int64),
            200,
        )[: w * h]
        rgb = np.stack([flat, flat, flat], axis=1).reshape(-1).astype(np.uint8)
    else:
        rgb = rng.integers(0, 256, w * h * 3, dtype=np.int64).astype(np.uint8)
    w2, h2, out = decode_tga(
        encode_tga(w, h, rgb, top_down=top_down, rle=rle)
    )
    assert (w2, h2) == (w, h)
    assert np.array_equal(out, rgb)


def map_ints(content, meta, emit):
    """The count/sum/avg store's map: the file's integer value."""
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def map_extremes(content, meta, emit):
    """The min/max store's map: the file's drawn extreme candidate."""
    obj = json.loads(content)
    emit(obj["k"], obj["m"])


FOLD_VIEWS = (
    ("c", map_ints, "count", None),
    ("s", map_ints, "sum", "long"),
    ("a", map_ints, "avg", "long"),
    ("mn", map_extremes, "min", None),
    ("mx", map_extremes, "max", None),
)

# integers, decimal and exponent texts, the texts Python and Spark
# need not parse alike (Infinity, -Infinity, NaN: the fold refuses
# them and the view refolds) and strings (skipped by min/max)
extreme = st.one_of(
    st.integers(min_value=-9, max_value=9),
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
    st.sampled_from([1e300, -2.5e-8, 1e-7, 3.0]),
    st.sampled_from([float("inf"), float("-inf"), float("nan")]),
    st.text(max_size=2),
)
# one batch: path index -> a put of (key, int value, extreme), or a del
change_batch = st.dictionaries(
    st.integers(min_value=0, max_value=5),
    st.one_of(
        st.none(),
        st.tuples(
            st.sampled_from(["k0", "k1", "k2"]),
            st.integers(min_value=-5, max_value=5),
            extreme,
        ),
    ),
    min_size=1,
    max_size=6,
)


def _nan_free(x):
    """``x`` with every NaN float replaced by a marker, so == holds."""
    if isinstance(x, float) and x != x:
        return "NaN"
    if isinstance(x, dict):
        return {k: _nan_free(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_nan_free(v) for v in x]
    return x


@given(st.lists(change_batch, min_size=1, max_size=3))
@settings(max_examples=5, deadline=None)
def test_delta_fold_placements_match_scratch(spark, tmp_path_factory, batches):
    """Change sequences drained by watch, one drain per batch, with
    every delta fold on the driver (the default limit) and on
    executors (_DELTA_DRIVER_LIMIT = 0): both placements commit
    bit-equal reduced and sidecar tables for count, long sum, long
    avg, min and max, and their get and list equal a from-scratch
    index() of the same changes. A histogram bound of 2 makes min/max
    keys evict and drain past the bound."""
    from dat_archive_map_reduce_spark.engine import MapReduce
    from dat_archive_map_reduce_spark.streaming import watch as W

    root = tmp_path_factory.mktemp("placements")

    def engine(name):
        db = MapReduce(spark, str(root / name), minmax_hist_bound=2)
        for view, fn, reduce, vt in FOLD_VIEWS:
            db.define(view, path="/d/*.json", map=fn, reduce=reduce,
                      key_schema=["string"], value_type=vt)
        return db

    rows = [
        {
            "origin": "dat://p",
            "pathname": f"/d/{i}.json",
            "version": n,
            "type": "put" if op is not None else "del",
            "content": None if op is None else json.dumps(
                {"k": op[0], "v": op[1], "m": op[2]}
            ),
        }
        for n, batch in enumerate(batches, 1)
        for i, op in sorted(batch.items())
    ]
    drv, exe, scratch = engine("drv"), engine("exe"), engine("scratch")
    exe._DELTA_DRIVER_LIMIT = 0
    for n in range(1, len(batches) + 1):
        for db in (drv, exe):
            db.append_changes([r for r in rows if r["version"] == n])
            W.watch_until_caught_up(db)
    scratch.index_source("dat://p", rows)
    try:
        for view, _fn, _reduce, _vt in FOLD_VIEWS:
            tables = drv._reaggregate_tables(drv._view(view))
            for t, u in zip(tables, exe._reaggregate_tables(exe._view(view))):
                # repr: overflow rows hold a NULL v_txt beside texts
                assert sorted(map(repr, t.read().collect())) == sorted(
                    map(repr, u.read().collect())
                ), t.root
            want = _nan_free(scratch.list(view))
            for db in (drv, exe):
                assert _nan_free(db.list(view)) == want, view
                for k in ("k0", "k1", "k2"):
                    assert _nan_free(db.get(view, k)) == _nan_free(scratch.get(view, k))
    finally:
        for db in (drv, exe, scratch):
            db.close()
