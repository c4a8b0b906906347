"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (SURVEY.md §2.2 extensions); designed Spark-first
for 100 TB corpora:

- **exact**: hash-groupBy on content digest. One shuffle on a 16-byte
  key regardless of document size; keep-policy = min(id).
- **n-gram Jaccard**: shingle -> inverted-index self-join -> exact
  Jaccard. The join explodes only on *shared* shingles, so cost scales
  with actual overlap, not |docs|^2.
- **MinHash + LSH**: per-doc signature folded natively in one narrow
  projection (no Python, no shuffle), banded bucketing, candidate
  pairs only within equal (band, bucket) buckets — the classic
  sub-quadratic near-dup path; candidates then verified with exact
  Jaccard.
- **SimHash**: 60-bit signature; Hamming-≤k pairs found via the
  pigeonhole band trick (split signature into k+1 chunks; any pair
  within distance k matches on ≥1 chunk) — again no full cross join.

All signatures are content-derived from md5, which every SQL engine
computes identically, so re-runs and retries are deterministic and
the DuckDB oracle replays each stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------

def content_digest(col: str | F.Column) -> F.Column:
    """Stable 128-bit content hash (md5 — same function exists in the
    SQL oracle). Hashing first means the dedup shuffle moves 16-byte
    keys, not document bodies."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of each exact-content group."""
    return (
        df.groupBy(content_digest(content_col).alias("digest"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------
# shingling + exact n-gram Jaccard
# ---------------------------------------------------------------------

def with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("tokens", F.split(F.lower(F.col(text_col)), " "))


def with_shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per row, computed with native
    higher-order functions (no Python): transform over an index
    sequence + slice + concat_ws."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    # Docs shorter than n tokens yield an empty shingle set. The guard
    # must be a when(): sequence(1, 0) is a DESCENDING range in Spark,
    # so the unguarded form slices at position 0 and throws.
    shingles = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn("shingles", shingles)


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc, sh array<string>, n_sh) — the distinct shingle SET per doc.

    ROW-LOCAL (r15): shingles are windows over ONE document's token
    array, so the whole set assembles inside the row — split once
    into an attribute, transform+slice per position, array_distinct —
    with NO shuffle at all. The pre-r15 form posexploded tokens, ran
    a window lead() per doc (one hash-partition exchange plus a
    per-doc sort over the full token stream) and re-aggregated with
    collect_set; at 100 TB that exchange moved every token of the
    corpus once per shingling pass.

    Catalyst traps this avoids (measured, see the plan pins):
    - the tokenization stays a MULTI-REFERENCE attribute (``ts``), so
      CollapseProject cannot inline split() into every transform
      element (the O(tokens^2) blow-up that killed the naive
      array-transform form pre-r4);
    - the short-doc prefilter tests the SPACE COUNT of the raw text,
      not size(split(..)) — split() on a plain-space pattern yields
      exactly (#spaces + 1) tokens, so the pushed-down scan filter
      never duplicates the tokenizer.

    Set ORDER changes vs the old collect_set (first-occurrence vs
    partition-arrival), which no consumer observes: every reader
    explodes, array_intersects or array_mins the set. Short docs
    (< n tokens) are absent from the output, as before.
    """
    from dat_archive_map_reduce_spark.operators._util import fan_out

    spaces = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit(" "), F.lit(""))
    )
    # fan_out (r15): shingling + the downstream hash work is the
    # corpus-sized compute; a single-split input would run it all on
    # one task (no-op when the scan has >= parallelism splits)
    base = fan_out(df.select(id_col, text_col).filter(spaces >= n - 1)).select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.col(text_col)), " ").alias("ts"),
    )
    sh = F.expr(
        f"array_distinct(transform(sequence(1, size(ts) - {n - 1}),"
        f" i -> concat_ws(' ', slice(ts, i, {n}))))"
    )
    return base.select("doc", sh.alias("sh")).select(
        "doc", "sh", F.size("sh").alias("n_sh")
    )


def shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct (doc, n_sh, shingle) posting rows per document — the
    exploded form of shingle_sets, for inverted-index consumers.
    explode_outer: plain explode gets an inferred size(sh) > 0 filter
    that re-inlines the whole row-local shingle expression under it
    (2x evaluation); sets rows always carry >= 1 shingle, so outer is
    row-identical."""
    return shingle_sets(df, text_col, id_col, n).select(
        "doc", F.explode_outer("sh").alias("shingle"), F.col("n_sh")
    )


def inverted_index_pair_counts(
    posting_rows: DataFrame, hot_cap: int | None = None
) -> DataFrame:
    """(doc, token, n_tok) posting rows -> co-occurrence pair counts
    (id_a, id_b, common, n_a, n_b), id_a < id_b.

    Bucket formulation instead of a self-join: group postings by token
    (ONE shuffle of the posting list — a token self-join shuffles it
    twice and builds a hash table), drop singleton buckets (most
    tokens; they cannot produce pairs), then explode each bucket's
    sorted doc list into its ordered pairs JVM-side.

    ``hot_cap`` drops buckets with more than that many docs — a stop-
    phrase token with 1e5 docs would emit 5e9 pairs from one task. At
    100 TB you ALWAYS set it (the pairs such buckets produce are
    near-zero-signal anyway); left None here for oracle-exact results.
    """
    buckets = (
        posting_rows.groupBy("token")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "n_tok"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if hot_cap is not None:
        buckets = buckets.filter(F.size("ds") <= hot_cap)
    # ordered pairs of the sorted bucket: (ds[i], ds[j]) for i < j
    pairs = F.flatten(
        F.transform(
            F.slice(F.col("ds"), 1, F.size("ds") - 1),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(
                    x["doc"].alias("id_a"),
                    y["doc"].alias("id_b"),
                    x["n_tok"].alias("n_a"),
                    y["n_tok"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        buckets.select(pairs.alias("ps"))
        # alias-then-explode_outer: inlining the O(k^2) pair expression
        # into the generator makes InferFiltersFromGenerate re-inline it
        # into a size>0 filter below the projection — every bucket would
        # build its pair array twice. The attribute form evaluates once;
        # outer needs no filter (size(ds)>=2 guarantees pairs non-empty).
        .select(F.explode_outer("ps").alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hot_cap: int | None = None,
    sets: "DataFrame | None" = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold via the
    inverted-index bucket formulation (inverted_index_pair_counts):
    only docs sharing a shingle ever meet, singleton shingles are
    pruned before any pair work, and per-doc set sizes ride along so
    no extra joins are needed. Output: (id_a, id_b, jaccard),
    id_a < id_b. Pass ``sets`` (a cached shingle_sets table) when the
    caller also feeds the same shingles to another consumer — the
    shingling pass then runs once, not per consumer.
    """
    src = (
        sets
        if sets is not None
        else shingle_sets(df, text_col, id_col, n)
    )
    # explode_outer: see shingle_rows — avoids the inferred-filter
    # double evaluation of the row-local shingle expression when
    # ``sets`` is not a persisted table
    sh = src.select(
        "doc", F.explode_outer("sh").alias("token"), F.col("n_sh").alias("n_tok")
    )
    return (
        inverted_index_pair_counts(sh, hot_cap=hot_cap)
        .withColumn("jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_jaccard_pairs(
    cands: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verify a known (id_a, id_b) candidate-pair set.

    The pairs are ALREADY known, so no inverted index and no pair
    re-discovery: semi-join the corpus down to docs that appear in some
    pair, build each survivor's shingle set once (shingle_sets — one
    shuffle), then join the sets onto the pair list by id and compute
    ``size(array_intersect)`` natively. Cost scales with |candidates|,
    never with co-occurrence among the pruned docs — rebuilding an
    inverted index here re-derives every pair the LSH buckets already
    produced plus all incidental ones, 2-3x the work for zero output.
    """
    cand_ids = (
        cands.select(F.col("id_a").alias("cid"))
        .union(cands.select("id_b"))
        .distinct()
    )
    pruned = df.join(F.broadcast(cand_ids), df[id_col] == F.col("cid"), "left_semi")
    # persisted: both pair sides join against the same shingle-set
    # relation; without the cache each side re-runs the whole
    # shingle pass (the two joins key on different pair columns, so
    # exchange reuse never fires). Released once the verified pairs
    # are materialized.
    from dat_archive_map_reduce_spark.operators._util import eager_release

    sets = shingle_sets(pruned, text_col, id_col, n).persist()
    return eager_release(_verify_pairs_against_sets(cands, sets, threshold), sets)


def _verify_pairs_against_sets(
    cands: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Join (doc, sh, n_sh) shingle sets onto (id_a, id_b) pairs and
    keep exact Jaccard >= threshold. Callers should persist ``sets``
    when it feeds both sides (the two joins key on different pair
    columns, so exchange reuse never fires)."""
    a = sets.select(
        F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    b = sets.select(
        F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", common / (F.col("n_a") + F.col("n_b") - common))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard join via PREFIX FILTERING — same output as
    ngram_jaccard_pairs, sub-quadratic candidate generation.

    The inverted-index formulation emits a pair for every shared
    shingle: on a corpus drawn from a common vocabulary nearly every
    doc pair shares *something*, so candidates approach |docs|^2 even
    though almost none clear the threshold (sf0.1: 1.13M co-occurring
    pairs for 25 matches). Prefix filtering (the SSJoin/PPJoin family)
    bounds this: order every doc's shingles rarest-document-frequency-
    first, index only the first ``|sh| - ceil(t*|sh|) + 1`` of them,
    and use the theorem that any pair with Jaccard >= t must share at
    least one PREFIX shingle. Common shingles sort to the back and
    never enter the index, so hot buckets — the quadratic killer —
    disappear by construction rather than by a cap. A min/max size
    ratio >= t filter prunes further before exact verification
    (size(array_intersect) on the full sets). Exact: no false
    negatives, verification removes all false positives.

    Cost shape at 100 TB: one extra shuffle (document-frequency join +
    per-doc rank) buys candidate counts ~linear in true-duplicate
    density. The win requires a Zipfian shingle-frequency tail (real
    corpora have one): hot shingles sort out of every prefix, so the
    quadratic buckets vanish by construction. On a flat-frequency
    corpus (e.g. uniform synthetic text) prefixes still collide
    broadly and the plain inverted index with hot_cap is the better
    trade — measure on your corpus.
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    sets = shingle_sets(df, text_col, id_col, n).persist()
    cands = prefix_filter_candidates(sets, threshold)
    return eager_release(_verify_pairs_against_sets(cands, sets, threshold), sets)


def prefix_filter_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) candidate pairs from (doc, sh, n_sh) shingle sets
    via prefix filtering; guaranteed to contain every pair with
    Jaccard >= threshold (no false negatives — verify separately)."""
    from pyspark.sql import Window

    postings = sets.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    freqs = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("docfreq"))
    # rarest-first canonical order; shingle as tie-break makes the
    # prefix deterministic across runs and partitionings
    w = Window.partitionBy("doc").orderBy("docfreq", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int") + 1
    prefix = (
        postings.join(freqs, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= prefix_len)
        .select("doc", F.col("shingle").alias("token"), F.col("n_sh").alias("n_tok"))
    )
    buckets = (
        prefix.groupBy("token")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "n_tok"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.slice(F.col("ds"), 1, F.size("ds") - 1),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(
                    x["doc"].alias("id_a"),
                    y["doc"].alias("id_b"),
                    x["n_tok"].alias("n_a"),
                    y["n_tok"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        buckets.select(pairs.alias("ps"))
        # alias-then-explode_outer: inlining the O(k^2) pair expression
        # into the generator makes InferFiltersFromGenerate re-inline it
        # into a size>0 filter below the projection — every bucket would
        # build its pair array twice. The attribute form evaluates once;
        # outer needs no filter (size(ds)>=2 guarantees pairs non-empty).
        .select(F.explode_outer("ps").alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        # length filter: J >= t forces min(|a|,|b|)/max(|a|,|b|) >= t
        .filter(
            F.least("n_a", "n_b") >= F.ceil(F.lit(threshold) * F.greatest("n_a", "n_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------

def portable_minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH with an ENGINE-PORTABLE hash family, so the whole
    pipeline — signatures, banding, candidate buckets, verified pairs —
    is reproducible bit-for-bit in any SQL engine and can sit behind
    the exact-hash oracle gate.

    "Permutation" i maps a shingle to the hex text ``md5(i ':' s)``;
    the signature slot is the MINIMUM such string over the doc's
    shingle set. md5 produces identical lowercase hex everywhere, and
    min over strings is a total order, so an oracle can replay every
    stage exactly. Collision probability per slot is Pr[argmin
    agrees] = J(a, b): md5 is a fixed pseudo-random order on
    shingles. Banding: ``bands`` buckets of r = num_perm/bands
    concatenated slots; candidates sharing any bucket are verified
    with exact Jaccard (no false positives leave).

    Scale shape: narrow signature pass (one md5 per (slot, shingle)),
    one shuffle to band buckets, pair explode JVM-side from sorted
    bucket lists, verification joins only the candidate subset. Costs
    ~num_perm md5s per shingle, so keep num_perm small (8 slots
    resolve >= 0.5 Jaccard fine) or pay linearly for sharper S-curves.
    """
    if num_perm % bands:
        raise ValueError("num_perm must be a multiple of bands")
    # persisted: feeds the signature pass AND both verify sides
    sets = shingle_sets(df, text_col, id_col, shingle_n).persist()
    cands = portable_minhash_candidates(
        sets, num_perm=num_perm, bands=bands
    )
    from dat_archive_map_reduce_spark.operators._util import eager_release

    return eager_release(_verify_pairs_against_sets(cands, sets, threshold), sets)


def portable_minhash_sigs(sets: DataFrame, num_perm: int = 8) -> DataFrame:
    """(id long, signature array<string>) — slot i is the minimum
    ``md5(i ':' shingle)`` hex string over the doc's shingle set.
    ``sets`` is shingle_sets output (doc, sh, n_sh); docs shorter than
    the shingle length have no set and so no signature."""
    return sets.select(
        F.col("doc").alias("id"),
        F.expr(
            f"transform(sequence(0, {num_perm - 1}), i -> "
            f"array_min(transform(sh, s -> md5(concat(cast(i AS string), ':', s)))))"
        ).alias("signature"),
    )


def portable_minhash_bands(
    signatures: DataFrame, num_perm: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, bucket) rows: band b's bucket is the concatenation of
    signature slots [b*r, (b+1)*r), r = num_perm/bands. Two docs are
    LSH candidates iff some band's bucket matches."""
    if num_perm % bands:
        raise ValueError("num_perm must be a multiple of bands")
    r = num_perm // bands
    return signatures.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
                f"concat_ws('', slice(signature, b * {r} + 1, {r})) AS bucket))"
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def portable_minhash_candidates(
    sets: DataFrame,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The CANDIDATE stage of portable_minhash_pairs alone: banded
    md5-minhash buckets to distinct (id_a, id_b) pairs, NO exact
    verify. Use when the caller needs raw LSH detections (e.g. the
    S-curve recall report, which compares the candidate stage against
    independently-computed ground truth); pipelines acting on pairs
    should go through portable_minhash_pairs, whose verify removes
    false positives. ``sets`` is shingle_sets output (doc, sh, n_sh)."""
    return bucket_pairs(
        portable_minhash_bands(portable_minhash_sigs(sets, num_perm), num_perm, bands)
    )


def bucket_pairs(banded: DataFrame) -> DataFrame:
    """(id, band, bucket) rows -> distinct (id_a < id_b) pairs of ids
    sharing some (band, bucket)."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    # ordered pairs (ds[i], ds[j]), i < j, exploded JVM-side
    pair_col = F.flatten(
        F.transform(
            F.slice(F.col("ds"), 1, F.size("ds") - 1),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(pair_col.alias("ps"))
        .select(F.explode_outer("ps").alias("p"))  # alias-then-explode: one eval
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_band_map(num_perm: int = 8, bands: int = 4, shingle_n: int = 3):
    """View map over ``{"doc_id", "text"}`` files emitting
    ``([band, bucket], doc_id)`` (key schema ``("long", "string")``):
    the document's rows of ``portable_minhash_bands(
    portable_minhash_sigs(shingle_sets(...)))``, bit for bit (pinned
    by test), so a changed or deleted file retracts its bands. A
    document of fewer than ``shingle_n`` tokens emits nothing."""
    if num_perm % bands:
        raise ValueError("num_perm must be a multiple of bands")
    r = num_perm // bands

    def _map(content, meta, emit):
        import hashlib
        import json

        rec = json.loads(content)
        text = rec.get("text")
        if text is None or text.count(" ") < shingle_n - 1:
            return
        ts = text.lower().split(" ")
        sh = {" ".join(ts[i : i + shingle_n]) for i in range(len(ts) - shingle_n + 1)}
        sig = [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            for i in range(num_perm)
        ]
        for b in range(bands):
            emit([b, "".join(sig[b * r : (b + 1) * r])], rec["doc_id"])

    return _map


def doc_text_map(content, meta, emit):
    """View map over ``{"doc_id", "text"}`` files emitting
    ``(doc_id, text)`` (key schema ``("long",)``): the texts
    view_minhash_pairs verifies against."""
    import json

    rec = json.loads(content)
    emit(rec["doc_id"], rec.get("text"))


def view_minhash_pairs(
    db,
    band_view: str,
    text_view: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard) of the views'
    current documents — equal to portable_minhash_pairs over them.
    Band keys of ``band_view`` (minhash_band_map) holding two or more
    ids are the candidates, verified exactly against ``text_view``
    (doc_text_map). Signatures are computed once per file by the map;
    pairs derive on read, so an updated or deleted document's pairs
    leave with its entries. ``shingle_n`` must be the band map's."""
    banded = db.entries_df(band_view).select(
        F.col("value").cast("long").alias("id"),
        F.col("key.k0").alias("band"),
        F.col("key.k1").alias("bucket"),
    )
    docs = db.entries_df(text_view).select(
        F.col("key.k0").alias("doc_id"),
        # value holds the JSON-encoded text; '$' unquotes the scalar
        F.get_json_object("value", "$").alias("text"),
    )
    return verify_jaccard_pairs(
        bucket_pairs(banded), docs, "text", "doc_id", n=shingle_n, threshold=threshold
    )


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

def portable_simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_distance: int = 3
) -> DataFrame:
    """60-bit SimHash near-dup pairs built on an ENGINE-PORTABLE hash:
    bit j of a token's hash is bit j of md5(token)'s hex digest
    (nibble lookup + power-of-two arithmetic — no engine-specific
    shift/hash builtins), and a document's bit is the MAJORITY vote
    over its token MULTISET (strict: a tie votes 0). Frequency
    weighting matters: on a corpus drawn from a small shared
    vocabulary, distinct-token majorities converge to the vocabulary's
    own majority bits and every signature collapses toward one point;
    term-frequency votes preserve per-document variation. Every stage
    — signatures, pigeonhole chunk buckets, Hamming verify — replays
    bit-for-bit in any SQL engine, so the pipeline can sit behind the
    exact-hash oracle gate.

    Scale shape: the signature fold is narrow (one md5 per
    distinct token, bit extraction from the SAME hex string via the
    vote accumulator), pair search is the pigeonhole chunk join —
    max_distance+1 chunks of 60/(max_distance+1) bits; any pair within
    distance d agrees exactly on >= 1 chunk. 60 bits (15 md5 nibbles),
    not 64: the top bit of a 64-bit signature would overflow signed
    BIGINT arithmetic, and portable engines disagree on unsigned.
    """
    from dat_archive_map_reduce_spark.operators._util import fan_out

    # one md5 per token (hoisted out of the per-bit lambda by mapping
    # tokens -> digests FIRST; inlining md5 inside the (acc, j) lambda
    # would recompute it 32x per token)
    votes = """
        aggregate(
          transform(toks, t -> md5(t)),
          array_repeat(0L, 60),
          (acc, h) -> zip_with(acc, sequence(0L, 59L),
            (v, j) -> v + CAST(floor(
                (instr('0123456789abcdef',
                       substr(h, CAST(j div 4 AS INT) + 1, 1)) - 1)
                / power(2, 3 - j % 4)) AS BIGINT) % 2))
    """
    sig = f"""
        aggregate(
          zip_with({votes}, sequence(0L, 59L),
            (v, j) -> IF(2 * v > size(toks),
                         CAST(power(2, 59 - j) AS BIGINT), 0L)),
          0L, (a, x) -> a + x)
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    sigs = (
        fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.expr(f"split(lower({text_col}), ' ')").alias("toks"),
        )
        .select("id", F.expr(sig).alias("simhash"))
        .persist()
    )
    return eager_release(
        simhash_near_pairs(sigs, max_distance=max_distance, bits=60), sigs
    )


def simhash_near_pairs(
    signatures: DataFrame, max_distance: int = 3, bits: int = 64
) -> DataFrame:
    """Pairs with Hamming distance <= max_distance via the pigeonhole
    band trick: split the bits into (max_distance+1) chunks; any
    qualifying pair agrees exactly on >=1 chunk, so candidates come
    from equal-chunk buckets only. Verification = bit_count(xor)."""
    n_chunks = max_distance + 1
    width = bits // n_chunks
    # shiftrightunsigned needs a variable shift amount -> SQL expr form
    # (the Python API only accepts a literal int shift)
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks - 1}), i -> struct("
        f"i as chunk, shiftrightunsigned(simhash, i * {width}) & {(1 << width) - 1} as val))"
    )
    banded = signatures.select("id", "simhash", F.explode(chunks).alias("c")).select(
        "id", "simhash", "c.chunk", "c.val"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )


# ---------------------------------------------------------------------
# exact-substring span dedup (Lee et al. 2022, arXiv:2107.06499)
# ---------------------------------------------------------------------

def span_postings(
    df: DataFrame, text_col: str, id_col: str, span_len: int
) -> DataFrame:
    """(doc, pos, h) — an md5 posting for EVERY length-``span_len``
    token window of every document (maximal-overlap shingles, one per
    start position, NOT deduplicated within the doc: positions matter
    downstream for coverage math).

    ROW-LOCAL (r15), the shingle_sets rework applied here: spans are
    windows over ONE document's token array, so each row hashes its
    own spans (transform + slice + md5 over the ``ts`` attribute) and
    posexplode_outer recovers the 0-based start position — NO shuffle
    where the pre-r15 form hash-partitioned and per-doc-sorted the
    full exploded token stream. Same Catalyst guards as shingle_sets:
    ``ts`` stays a multi-reference attribute (no split() inlining per
    lambda element), the short-doc prefilter tests the raw text's
    space count (split on ' ' yields exactly #spaces + 1 tokens, so
    the pushed-down filter never duplicates the tokenizer), and the
    OUTER posexplode blocks the inferred non-empty filter that would
    re-inline the span array. The posting that leaves this operator
    is (doc, pos, md5 hex) — never text, and now never even a
    materialized span string column.
    """
    from dat_archive_map_reduce_spark.operators._util import fan_out

    spaces = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit(" "), F.lit(""))
    )
    # fan_out (r15): tokenize+md5 is the corpus-sized compute; a
    # single-split input would run it all on one task (no-op when the
    # scan has >= parallelism splits)
    base = fan_out(
        df.select(id_col, text_col).filter(spaces >= span_len - 1)
    ).select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.col(text_col)), " ").alias("ts"),
    )
    spans = F.expr(
        f"transform(sequence(1, size(ts) - {span_len - 1}),"
        f" i -> md5(concat_ws(' ', slice(ts, i, {span_len}))))"
    )
    return base.select("doc", spans.alias("hs")).select(
        "doc", F.posexplode_outer("hs").alias("pos", "h")
    )


def exact_substring_span_stats(
    df: DataFrame, text_col: str, id_col: str, span_len: int = 15
) -> DataFrame:
    """Per-document duplicated-span statistics — the Spark-native
    equivalent of suffix-array exact-substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    arXiv:2107.06499; their single-node suffix array does not
    distribute, the length-L window hash join does).

    A span is duplicated when the SAME ``span_len``-token window occurs
    in >= 2 distinct documents (within-doc repeats are the separate
    text_repetition_stats operator). Output, per document with at least
    one duplicated span: total token count, number of duplicated
    windows, number of tokens covered by at least one duplicated window
    (exact interval union: windows per doc sorted by start share equal
    length, so union length is sum(min(L, start - prev_start))), and
    the covered fraction — the number a span-removal pass needs.

    Scale shape: postings shuffle once on the md5 key for the
    frequency count (partial-combined), once more joining the
    duplicated-hash set back (AQE may broadcast it — true-dup density
    is low); the coverage window runs over duplicated occurrences
    only, orders of magnitude smaller than the corpus. Nothing is
    all-pairs: a span shared by a million docs costs a count, never a
    pair explosion.
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    spans = span_postings(df, text_col, id_col, span_len).persist()
    dup_hashes = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_occ = spans.join(dup_hashes, "h", "left_semi")

    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("pos")
    covered = F.when(
        F.col("prev").isNull(), F.lit(span_len)
    ).otherwise(F.least(F.lit(span_len), F.col("pos") - F.col("prev")))
    per_doc = (
        dup_occ.select("doc", "pos", F.lag("pos").over(w).alias("prev"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum(covered).alias("dup_tokens"),
        )
    )
    sizes = df.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).alias("n_tokens"),
    )
    out = (
        per_doc.join(sizes, "doc")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            "n_dup_windows",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 4).alias("dup_fraction"),
        )
    )
    return eager_release(out, spans)


def remove_duplicated_spans(
    df: DataFrame, text_col: str, id_col: str, span_len: int = 15
) -> DataFrame:
    """The ACTION half of exact-substring dedup (Lee et al. 2022):
    rewrite affected documents with every cross-document duplicated
    span scrubbed out. Policy: ALL occurrences of a duplicated span
    are removed ("scrub" — the conservative variant; the paper's
    keep-one policy retains the first occurrence corpus-wide, which
    needs a global owner election on top of this plan).

    Covered token positions explode from duplicated windows only
    (span_len x amplification on the duplicated slice of the corpus,
    not the corpus); survivors reassemble per doc with one
    order-restoring struct sort. Output (affected docs only):
    (doc, n_before, n_after, cleaned_hash) — the hash stands in for
    the rewritten text so the oracle verifies exact reassembly.
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    spans = span_postings(df, text_col, id_col, span_len).persist()
    dup_hashes = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_occ = spans.join(dup_hashes, "h", "left_semi")
    covered = dup_occ.select(
        "doc", F.explode(F.sequence("pos", F.col("pos") + span_len - 1)).alias("pos")
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    affected = covered.select("doc").distinct()
    survivors = (
        toks.join(affected, "doc", "left_semi")
        .join(covered, ["doc", "pos"], "left_anti")
    )
    sizes = df.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).alias("n_before"),
    )
    rebuilt = survivors.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("cleaned_hash"),
    )
    # docs scrubbed to nothing still report: left join keeps them with
    # n_after = 0 and the empty-string hash
    out = (
        affected.join(sizes, "doc")
        .join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("cleaned_hash", F.md5(F.lit(""))).alias("cleaned_hash"),
        )
    )
    return eager_release(out, spans)


def incremental_span_counts(
    new_docs: DataFrame,
    base_counts: DataFrame | None,
    text_col: str,
    id_col: str,
    span_len: int = 15,
) -> DataFrame:
    """Incremental ingestion for exact-substring dedup: fold a new
    document batch into the accumulated per-span-hash document counts.
    Returns the updated counts table ``(h, n_docs)`` — the persistent
    state; ``n_docs >= 2`` is the duplicated-span set at any point.

    Additivity contract (the batch-split invariance test): documents
    are disjoint across batches, so per-hash distinct-doc counts sum —
    ingesting B1 then B2 yields byte-identical state to ingesting
    B1 ∪ B2 at once. Only the NEW batch is ever re-shingled; the
    accumulated state is one narrow (16-byte hash, long) table that
    merges with a partial-combined sum.
    """
    batch_counts = (
        span_postings(new_docs, text_col, id_col, span_len)
        .groupBy("h")
        .agg(F.count_distinct("doc").alias("n_docs"))
    )
    if base_counts is None:
        return batch_counts
    return (
        base_counts.unionByName(batch_counts)
        .groupBy("h")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def _bloom_positions(value: F.Column, k: int, m_bits: int) -> F.Column:
    """k independent bit positions for one value: position j is the
    first 8 hex chars of md5(j ':' value) folded to an int mod m_bits
    — pure arithmetic on the digest, so an engine-portable oracle can
    replay every position exactly."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), value)), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % m_bits
            ).cast("int")
            for j in range(k)
        ]
    )


def _bit_mask(bit: F.Column, bits_per_word: int) -> F.Column:
    """``1 << bit`` as an element_at lookup into a literal mask array
    (the Python shiftleft wrapper only takes an int literal for the
    shift amount; a 32-entry literal array works inside higher-order
    lambdas too and constant-folds into the codegen references)."""
    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(bits_per_word)]
    )
    return F.element_at(masks, bit.cast("int") + 1)


def bloom_build(
    df: DataFrame,
    value_col: str,
    k: int = 4,
    m_words: int = 64,
    bits_per_word: int = 32,
) -> DataFrame:
    """Fold a column into a Bloom filter (Bloom 1970): ONE row holding
    the filter as a word_idx -> word map. Each value sets k bits; a
    word packs ``bits_per_word`` bits of a BIGINT (32 by default so no
    shift ever touches the sign bit — DuckDB raises on BIGINT shift
    overflow, Java wraps; staying under bit 62 keeps both engines
    identical). The whole build is explode -> partial-combined bit_or
    -> one-row map fold: shuffle traffic is bounded by m_words rows
    regardless of corpus size, and the finished filter broadcasts as
    a single map value (m_words * 8 bytes — KBs for any practical m).
    """
    m_bits = m_words * bits_per_word
    pos = F.explode(
        F.array_distinct(_bloom_positions(F.col(value_col), k, m_bits))
    ).alias("pos")
    words = (
        df.select(pos)
        .select(
            (F.col("pos") / bits_per_word).cast("int").alias("word_idx"),
            _bit_mask(F.col("pos") % bits_per_word, bits_per_word).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("word_idx", "word")))
            ).alias("bloom")
        )
    )
    return words


def bloom_probe(
    df: DataFrame,
    value_col: str,
    bloom: DataFrame,
    k: int = 4,
    m_words: int = 64,
    bits_per_word: int = 32,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """Membership test against a built filter: the one-row filter map
    broadcasts onto the probe scan and each probe checks its k bits
    map-side — zero shuffle on the probe table, the incremental-dedup
    first pass at any scale (only bloom-positive probes go on to exact
    verification). No false negatives by construction; false-positive
    rate is the standard (1 - e^(-kn/m))^k.
    """
    m_bits = m_words * bits_per_word
    positions = _bloom_positions(F.col(value_col), k, m_bits)
    bit_set = lambda p: (  # noqa: E731
        F.coalesce(
            F.element_at(F.col("bloom"), (p / bits_per_word).cast("int")),
            F.lit(0).cast("long"),
        ).bitwiseAND(_bit_mask(p % bits_per_word, bits_per_word))
        != 0
    )
    return df.crossJoin(F.broadcast(bloom)).select(
        *[F.col(c) for c in df.columns],
        F.forall(positions, bit_set).alias(hit_col),
    )
