"""Similarity search over embedding columns (array<float>).

Extensions beyond the reference (SURVEY.md §2.2): brute-force cosine
top-k as the exact baseline, plus sub-linear paths for scale —
sign-LSH bucketing, an IVF (inverted-file) coarse quantizer and
product quantization with asymmetric-distance (PQ/ADC) scans. At
100 TB the exact path is the per-partition kernel; the index paths
bound how many partitions a query touches.

Vector math uses native higher-order functions (zip_with + aggregate)
— JVM-side, no Python in the hot loop. LSH planes come from md5 and
the portable IVF/PQ codebooks from corpus data points, so those paths
replay bit-for-bit under the SQL oracle; the seeded IVF path
(train_centroids/ivf_topk) is recall-tested instead.
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns via zip_with + aggregate
    (whole-stage-codegen'd, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def py_cosine(a: Sequence[float], b: Sequence[float]) -> float:
    """Python twin of cosine(), bit for bit: the same left-to-right
    folds from 0.0 and a correctly rounded sqrt."""
    dot_ = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot_ += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot_ / (math.sqrt(na) * math.sqrt(nb))


def brute_force_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query is a literal array baked into the plan (broadcast by
    construction); the scan computes one fused expression per row and
    TakeOrderedAndProject keeps k rows per partition then k global —
    no full sort, no shuffle of the corpus.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        corpus.select(
            F.col(id_col),
            cosine(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k nearest corpus rows for EACH query row (small query side):
    broadcast the queries, cosine per pair, rank-window per query.
    Output: (query_id, neighbor_id, cos_sim, rnk).

    Contract: the QUERY side must be broadcastable (say <= 10^4-10^5
    rows); work is |queries| x |corpus|, spread across corpus
    partitions. When both sides are large this degenerates to all-pairs
    — use ann_cosine_near_pairs / portable_lsh_topk / ivf_topk to
    prune candidates first and keep this as the per-candidate scorer."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            cosine(F.col("qvec").cast("array<double>"), F.col("cvec").cast("array<double>")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------
# sign-LSH (md5-derived Rademacher hyperplanes) — the scale path
# ---------------------------------------------------------------------

def _portable_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Rademacher (+/-1) hyperplanes derived from md5(p ':' d) — entry
    is +1 when the digest's first hex nibble is >= 8. md5 is identical
    in every engine, so an oracle can re-derive the exact planes in
    SQL; Rademacher projections satisfy the same sign-LSH guarantee as
    Gaussian ones (Achlioptas-style database-friendly projections)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _per_query_topk(
    scored: DataFrame, score_col: str, k: int, out_col: str, ascending: bool = False
) -> DataFrame:
    """Shared per-query top-k tail of the batched retrieval family:
    rank on the RAW score (vec_id tiebreak), keep k, round for display
    only. One definition so the three index families (LSH, IVF,
    PQ-ADC) can never drift apart on tie-break or rounding — each
    batch query's oracle parity depends on these exact semantics."""
    from pyspark.sql import Window

    order = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.partitionBy("qid").orderBy(order, F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", "vec_id", F.round(score_col, 4).alias(out_col))
    )


def _empty_batch_result(df: DataFrame, out_col: str) -> DataFrame:
    """Typed empty (qid, vec_id, <score>) result for a batch serving
    call over an empty corpus — .first()-based dim inference has no
    row to read, and an empty answer is the right answer."""
    return df.sparkSession.createDataFrame(
        [], f"qid long, vec_id long, {out_col} double"
    )


def _empty_topk(corpus: DataFrame, id_col: str, out_col: str) -> DataFrame:
    """Typed empty (id, <score>) result for a single-query serving call
    whose codebook fetch found no rows (empty corpus) — an empty
    answer, not a crash. limit(0) plans as an empty local relation,
    so no job runs."""
    return corpus.select(
        F.col(id_col), F.lit(None).cast("double").alias(out_col)
    ).limit(0)


def _portable_sig_expr(num_planes: int, dim: int, vec_col: str) -> Column:
    """The sign-LSH signature of ``vec_col`` against the md5-derived
    Rademacher planes as ONE native expression (ordered
    dimension-by-dimension fold — bit-identical to the oracle's
    list_reduce and the driver-side loop in portable_lsh_topk)."""
    planes = _portable_planes(num_planes, dim)
    planes_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(("1.0D" if v > 0 else "-1.0D") for v in pl) + ")"
            for pl in planes
        )
        + ")"
    )
    return F.expr(
        f"""
        aggregate(
          zip_with(sequence(0, {num_planes - 1}), {planes_lit}, (p, pl) ->
            IF(aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), pl,
                                  (x, r) -> x * r),
                         CAST(0.0 AS DOUBLE), (a, v) -> a + v) > 0,
               CAST(power(2, {num_planes - 1} - p) AS INT), 0)),
          0, (a, x) -> a + x)
        """
    )


def portable_lsh_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    probe_hamming: int = 2,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BATCHED sign-LSH serving: approximate top-k for a DataFrame of
    query vectors in one plan — the LSH member of the batched
    retrieval family next to portable_ivf_batch_topk. Corpus AND
    query signatures come from the same native plane fold (no
    driver-side signature loop); the candidate filter is the query
    table broadcast onto the corpus signature scan with the
    bit_count(xor) <= h multi-probe predicate (|C| x |Q| integer sig
    comparisons — cheap — never |C| x |Q| vector math); only
    candidates pay the exact-cosine rerank, per-query top-k via a
    window. Deterministic and oracle-replayable. Returns
    (qid, vec_id, cos_sim)."""
    if dim is None:
        row = corpus.select(F.size(vec_col).alias("d")).first()
        if row is None:  # empty corpus: empty answer, not a crash
            return _empty_batch_result(corpus, "cos_sim")
        dim = row["d"]
    sig = _portable_sig_expr(num_planes, dim, vec_col)
    v = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), norm(v).alias("nv"),
        sig.alias("sig"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"), v.alias("qv"), norm(v).alias("qn"),
        sig.alias("qsig"),
    )
    cand = c.join(
        F.broadcast(q),
        F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= probe_hamming,
    )
    scored = cand.select(
        "qid",
        "vec_id",
        (dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("qn"))).alias("_cos"),
    )
    return _per_query_topk(scored, "_cos", k, "cos_sim")


def portable_lsh_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    num_planes: int = 8,
    probe_hamming: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-LSH approximate top-k with ENGINE-PORTABLE hyperplanes, so
    the whole path — plane derivation, signatures, multi-probe
    candidate filter, exact-cosine rerank — replays bit-for-bit in any
    SQL engine with md5.

    Determinism requires matching FLOAT SUMMATION ORDER, not just the
    planes: the projection folds dimension-by-dimension left-to-right
    (Spark `aggregate`, oracle `list_reduce`, and the driver-side
    query-signature loop below all fold identically), and +/-1
    multiplies are exact, so the sign test agrees everywhere. Scale
    shape: narrow signature scan, native bit_count(xor) probe
    predicate, TakeOrderedAndProject rerank over the candidate subset
    only.
    """
    dim = len(query_vec)
    planes = _portable_planes(num_planes, dim)
    sig_expr = _portable_sig_expr(num_planes, dim, vec_col)
    qv = [float(x) for x in query_vec]
    qsig = 0
    for p, pl in enumerate(planes):
        acc = 0.0
        for x, r in zip(qv, pl):
            acc += x * r
        if acc > 0:
            qsig |= 1 << (num_planes - 1 - p)
    cands = corpus.withColumn("_sig", sig_expr).filter(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    return brute_force_topk(cands.drop("_sig"), query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------
# IVF (inverted file) — coarse quantizer + probe
# ---------------------------------------------------------------------

def ivf_assign_expr(
    cents: "list[tuple[int, Sequence[float]]]", vec_col: str = "embedding"
) -> Column:
    """Deterministic nearest-pinned-centroid assignment: argmax of
    cosine over the (id, vector) codebook, ties to the SMALLER
    centroid id (the -id trick inside array_max's lexicographic
    struct compare). The batch IVF plan (portable_ivf_topk) uses it;
    ivf_cluster_map is its Python twin for an engine view, pinned
    equal by test. Codebook is baked as plan literals: zero-shuffle
    narrow scan, the 100 TB shape."""
    v = F.col(vec_col).cast("array<double>")
    choices = F.array(
        *[
            F.struct(
                cosine(v, F.array(*[F.lit(float(x)) for x in cv])).alias("c"),
                F.lit(-int(cid)).alias("nid"),
            )
            for cid, cv in cents
        ]
    )
    return -F.array_max(choices)["nid"]


def ivf_cluster_map(cents: "list[tuple[int, Sequence[float]]]"):
    """View map over ``{"vec_id", "embedding"}`` files emitting
    ``(cluster, vec_id)`` (key schema ``("long",)``): ivf_assign_expr's
    assignment, bit for bit (pinned by test). A re-put embedding moves
    cluster, a deleted one leaves; a probe is ivf_probe plus one
    ``get_many`` of the probed clusters."""
    cents = sorted((int(c), [float(x) for x in v]) for c, v in cents)

    def _map(content, meta, emit):
        import json

        rec = json.loads(content)
        emit(ivf_probe(cents, rec["embedding"], 1)[0], rec["vec_id"])

    return _map


def ivf_probe(
    cents: "list[tuple[int, Sequence[float]]]",
    query_vec: Sequence[float],
    n_probe: int,
) -> "list[int]":
    """The ``n_probe`` centroid ids nearest ``query_vec``, ties to the
    smaller id."""
    qv = [float(x) for x in query_vec]
    return [
        cid
        for cid, _ in sorted(
            ((cid, py_cosine(qv, cv)) for cid, cv in cents),
            key=lambda t: (-t[1], t[0]),
        )[:n_probe]
    ]


def portable_ivf_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    centroid_ids: Sequence[int] = tuple(range(1, 9)),
    n_probe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k with a DATA-POINT codebook: the centroids
    are the corpus vectors with the given ids (a k-medoids-style
    sampled codebook — no iterative training), so the whole path —
    codebook, cluster assignment, probe choice, exact-cosine rerank —
    is deterministic and replays bit-for-bit in any SQL engine. Proof
    twin of ivf_topk (numpy k-means centroids; matmul summation order
    is BLAS-dependent, so no oracle can reproduce them).

    Assignment is argmax over per-centroid cosines computed with the
    same ordered folds everywhere (Spark `aggregate` / oracle
    `list_reduce` / the driver-side probe loop); ties break to the
    smaller centroid id. Scale shape matches ivf_topk: the codebook is
    a bounded driver-side fetch baked into the plan as literals, the
    assignment scan is narrow, and only vectors in the ``n_probe``
    clusters nearest the query are reranked.
    """
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in corpus.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, vec_col)
        .collect()
    }
    if not rows:  # empty corpus: empty answer, not a crash
        return _empty_topk(corpus, id_col, "cos_sim")
    cents = [(cid, rows[cid]) for cid in sorted(rows)]
    probed = ivf_probe(cents, query_vec, n_probe)
    assigned = corpus.withColumn("_cluster", ivf_assign_expr(cents, vec_col))
    cands = assigned.filter(F.col("_cluster").isin(probed)).drop("_cluster")
    return brute_force_topk(cands, query_vec, k, vec_col, id_col)


def portable_ivf_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_ids: Sequence[int] = tuple(range(4, 12)),
    n_probe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BATCHED IVF serving: approximate top-k for a whole DataFrame of
    query vectors at once — the production retrieval shape (N queries
    x probe-pruned corpus), next to the single-vector paths whose one
    query arrives via .first(). The reference's ``list()`` is its only
    multi-row query surface (/root/reference/lib/view.js:67-83);
    batched retrieval is the ANN-era equivalent.

    Everything is a DataFrame — no per-query driver loop anywhere:

    1. codebook: data-point centroids folded into ONE cid-sorted
       broadcast row (cid, c, cn) — the nearest_centroid_join recipe,
       O(1) plan size in codebook size;
    2. corpus assignment: map-only scan, argmax cosine over the
       codebook via ordered folds, ties to the lowest cid;
    3. per-query probes: one narrow pass over the query table ranking
       the same codebook (sort by (-cos, cid), keep n_probe), then
       explode — |Q| * n_probe tiny rows carrying the query vector;
    4. candidates: probe rows BROADCAST-joined onto the assigned
       corpus on cluster id — the one corpus-grain join, pruned to
       probed clusters;
    5. rerank: exact cosine, per-query top-k via a window partitioned
       by query id over the candidate set only (rank on the RAW
       cosine, vec_id tiebreak; rounding is display-only).

    Deterministic and oracle-replayable bit-for-bit (ordered folds,
    md5-free). Scale: the only shuffles are the candidate-set window
    partition by qid and the codebook/probe broadcasts; corpus
    assignment never shuffles. Returns (qid, vec_id, cos_sim)."""
    v = F.col(vec_col).cast("array<double>")
    cents = corpus.filter(F.col(id_col).isin(list(centroid_ids))).select(
        F.col(id_col).cast("long").alias("_cid"),
        v.alias("_c"),
        norm(v).alias("_cn"),
    )
    book = cents.agg(
        F.array_sort(F.collect_list(F.struct("_cid", "_c", "_cn"))).alias("book")
    )

    cor = corpus.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), norm(v).alias("nv")
    )
    assigned = (
        cor.crossJoin(F.broadcast(book))
        .select(
            "vec_id",
            "v",
            "nv",
            F.transform(
                F.col("book"),
                lambda s: dot(F.col("v"), s["_c"]) / (F.col("nv") * s["_cn"]),
            ).alias("d"),
            "book",
        )
        .select(
            "vec_id",
            "v",
            "nv",
            F.element_at(
                F.col("book"),
                F.array_position(F.col("d"), F.array_max("d")).cast("int"),
            )["_cid"].alias("cid"),
        )
    )

    q = queries.select(
        F.col(id_col).alias("qid"), v.alias("qv"), norm(v).alias("qn")
    )
    probes = (
        q.crossJoin(F.broadcast(book))
        .select(
            "qid",
            "qv",
            "qn",
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("book"),
                        lambda s: F.struct(
                            (
                                -dot(F.col("qv"), s["_c"]) / (F.col("qn") * s["_cn"])
                            ).alias("nc"),
                            s["_cid"].alias("cid"),
                        ),
                    )
                ),
                1,
                n_probe,
            ).alias("top"),
        )
        .select("qid", "qv", "qn", F.explode(F.col("top")["cid"]).alias("pcid"))
    )

    cand = assigned.join(F.broadcast(probes), assigned["cid"] == probes["pcid"])
    scored = cand.select(
        "qid",
        "vec_id",
        (dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("qn"))).alias("_cos"),
    )
    return _per_query_topk(scored, "_cos", k, "cos_sim")


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (one matmul per
    batch). Output: (id, cluster)."""
    cents = centroids.astype(np.float64)
    cn = np.linalg.norm(cents, axis=1)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("cluster", T.IntegerType(), False),
        ]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = (m @ cents.T) / (np.linalg.norm(m, axis=1)[:, None] * cn[None, :])
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cluster": sims.argmax(axis=1).astype(np.int32)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(_assign, schema=out_schema)


def train_centroids(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Mini k-means on a driver-side sample (the standard IVF training
    recipe: train coarse quantizer on a bounded sample, assign at
    scale). The sample is the top-4096 rows by ``id_col`` — an ordered
    TakeOrderedAndProject, so the trained centroids (and therefore
    every downstream ivf_topk answer) are identical across partition
    layouts; a bare limit() would hand back whichever partitions
    report first."""
    sample = np.stack(
        [
            r[vec_col]
            for r in corpus.select(id_col, vec_col).orderBy(id_col).limit(4096).collect()
        ]
    ).astype(np.float64)
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=n_clusters, replace=False)]
    for _ in range(iters):
        sims = sample @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_clusters):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k probing only the n_probe closest clusters."""
    qv = np.asarray(query_vec, dtype=np.float64)
    sims = (centroids @ qv) / (np.linalg.norm(centroids, axis=1) * np.linalg.norm(qv))
    probe = [int(c) for c in np.argsort(-sims)[:n_probe]]
    assign = ivf_assign(corpus, centroids, vec_col, id_col)
    cands = assign.filter(F.col("cluster").isin(probe)).select(id_col)
    pruned = corpus.join(cands, id_col, "left_semi")
    return brute_force_topk(pruned, query_vec, k, vec_col, id_col)


def signbit_chunk_codes(
    corpus: DataFrame,
    n_bits: int = 8,
    n_chunks: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic axis-aligned sign-LSH codes: bit i = (vec[i] >= 0),
    split into ``n_chunks`` chunk codes (columns c0..c{n_chunks-1}).

    Pigeonhole: two signatures within Hamming distance < n_chunks agree
    on at least one full chunk, so candidate generation is an equi-join
    per chunk — no cross join, no random state. Axis-aligned planes
    (instead of the md5-derived ones in _portable_planes) keep
    the whole pipeline native-column AND oracle-expressible in SQL.
    """
    bits_per = n_bits // n_chunks
    cols = []
    for c in range(n_chunks):
        code: Column = F.lit(0)
        for j in range(bits_per):
            dim = c * bits_per + j  # 0-based vector dim
            code = code + F.when(
                F.element_at(F.col(vec_col), dim + 1) >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
        cols.append(code.alias(f"c{c}"))
    return corpus.select(F.col(id_col).alias("id"), *cols)


def ann_cosine_near_pairs(
    corpus: DataFrame,
    threshold: float,
    n_bits: int = 8,
    n_chunks: int = 2,
    n_blocks: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The scale path for embedding near-dup: sign-LSH candidate
    prefilter -> exact block-GEMM cosine verify on the pruned set.

    This is the composition cosine_near_pairs' docstring prescribes for
    100 TB: the O(N^2) GEMM kernel runs only over vectors that share an
    LSH chunk with someone (typically a small fraction), and the final
    semi-join keeps only same-bucket pairs so the output is exactly
    'candidate pair AND cosine >= threshold' — reproducible in SQL for
    the oracle. Recall vs the exact pair set is asserted in
    tests/test_extensions.py.
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    # POSTING-FORM candidate join (r15): explode each row's chunk
    # codes to (chunk, code) postings and self-join ONCE on the
    # composite key, instead of one join + union per chunk — same
    # candidate set (a pair survives iff it shares >= 1 chunk code;
    # distinct() collapses multi-chunk agreement either way), but
    # n_chunks joins/exchanges collapse into one. The sign-bit code
    # projection and the candidate list both PERSIST: codes feeds
    # both posting sides and cand feeds the id semi-join AND the
    # final pair semi-join — uncached they re-run per branch.
    codes = signbit_chunk_codes(corpus, n_bits, n_chunks, vec_col, id_col).persist()
    post = codes.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("code"))
                for c in range(n_chunks)
            ])
        ).alias("p"),
    ).select("id", F.col("p.chunk").alias("chunk"), F.col("p.code").alias("code"))
    cand = (
        post.alias("a")
        .join(post.alias("b"), ["chunk", "code"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .persist()
    )
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pruned = corpus.join(ids, id_col, "left_semi")
    scored = cosine_near_pairs(pruned, threshold, vec_col, id_col, n_blocks)
    return eager_release(
        scored.join(cand, ["id_a", "id_b"], "left_semi"), codes, cand
    )


# ---------------------------------------------------------------------
# Exact all-pairs cosine (near-dup verification kernel)
# ---------------------------------------------------------------------

def cosine_near_pairs(
    corpus: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-matrix self-join.

    Rows are hashed into `n_blocks` blocks; each row is replicated to
    every unordered block pair it participates in (B copies), and one
    numpy matmul per (block_i, block_j) group scores that tile of the
    similarity matrix. Work is the same O(N^2 * d) as the naive
    cross-join, but executed as ~B^2/2 dense GEMM tiles instead of
    N^2/2 interpreted array-expression evaluations — and each tile is
    an independent task, so the square spreads across the cluster.

    Replication factor B is the knob: shuffle volume is N*B rows while
    tile count is B(B+1)/2; pick B ~ sqrt(desired parallelism). At
    100 TB you don't run exact all-pairs at all — LSH/IVF candidates
    first (portable_lsh_topk/ivf_topk), then THIS as the verify
    kernel on the pruned set.

    Output: (id_a, id_b, cos_sim), id_a < id_b, exact doubles.
    """
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    blocked = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # replicate each row to all unordered block pairs containing its block
    pairs = blocked.select(
        "id",
        "vec",
        "blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda j: F.struct(
                    F.least(F.col("blk"), j).alias("pa"),
                    F.greatest(F.col("blk"), j).alias("pb"),
                ),
            )
        ).alias("pair"),
    ).select("id", "vec", "blk", F.col("pair.pa").alias("pa"), F.col("pair.pb").alias("pb"))

    thr = float(threshold)

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
        {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
    )

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        pa, pb = int(pdf["pa"].iloc[0]), int(pdf["pb"].iloc[0])
        m = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1)
        nrm[nrm == 0] = 1.0
        m = m / nrm[:, None]
        ids = pdf["id"].to_numpy()
        if pa == pb:
            sims = m @ m.T
            ii, jj = np.triu_indices(len(ids), k=1)
            ids_a = ids_b = ids
        else:
            amask = (pdf["blk"] == pa).to_numpy()
            ma, ids_a = m[amask], ids[amask]
            mb, ids_b = m[~amask], ids[~amask]
            if not len(ids_a) or not len(ids_b):
                return empty
            sims = ma @ mb.T
            ii, jj = np.indices(sims.shape).reshape(2, -1)
        keep = sims[ii, jj] >= thr
        a_ids, b_ids = ids_a[ii[keep]], ids_b[jj[keep]]
        vals = sims[ii[keep], jj[keep]]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return pd.DataFrame(
            {"id_a": lo.astype("int64"), "id_b": hi.astype("int64"), "cos_sim": vals}
        )

    # each row hits each unordered block pair exactly once: for j in
    # 0..B-1, (min(b,j), max(b,j)) enumerates (0,b)..(b,b)..(b,B-1)
    return pairs.groupBy("pa", "pb").applyInPandas(_tile, schema=out_schema)


# ---------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search
# ---------------------------------------------------------------------

def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two array columns as an ORDERED left
    fold (ascending element index) — the summation order every PQ
    stage (Spark encode, driver-side ADC table, SQL oracle) shares,
    so distances are bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _pq_code_exprs(codebooks, vec_col: str) -> list[Column]:
    """One argmin-code Column per subspace: array_min over
    struct(dist, code) — struct comparison minimizes dist first, code
    second, so ties break to the smaller code deterministically.
    Entirely native (codegen'd), no Python in the scan.

    The k centroids enter as ONE array<array<double>> literal swept by
    a single transform lambda, not k separate fold expressions — the
    fold appears once per subspace in the plan, so codegen size is
    O(m), not O(m*k) (the per-centroid-expression form compiled a
    ~1.4 MiB stage at m=8 x k=32). Distance arithmetic is the same
    ordered zip_with fold, so codes are bit-identical either way."""
    m, k, dsub = codebooks.shape
    v = F.col(vec_col).cast("array<double>")
    codes = []
    for mi in range(m):
        sub = F.slice(v, mi * dsub + 1, dsub)
        cents = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in codebooks[mi][ci]])
                for ci in range(k)
            ]
        )
        choices = F.zip_with(
            F.transform(cents, lambda c: sqdist(sub, c)),
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("c")),
        )
        codes.append(F.array_min(choices)["c"].alias(f"c{mi}"))
    return codes


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only narrow encode: (id, c0..c{m-1}) — one small-int column
    per subspace. No shuffle; at scale this materializes as the codes
    table ANN serving scans instead of the raw vectors."""
    return corpus.select(
        F.col(id_col), *_pq_code_exprs(codebooks, vec_col)
    )


def _py_adc_table(codebooks: np.ndarray, query_vec) -> list[list[float]]:
    """ADC lookup tables in plain left-to-right Python arithmetic (NOT
    numpy: BLAS/pairwise summation orders differ from the ordered
    fold the SQL oracle and Spark encode use)."""
    m, k, dsub = codebooks.shape
    qv = [float(x) for x in query_vec]
    tables: list[list[float]] = []
    for mi in range(m):
        row = []
        for ci in range(k):
            acc = 0.0
            for d in range(dsub):
                diff = qv[mi * dsub + d] - float(codebooks[mi][ci][d])
                acc += diff * diff
            row.append(acc)
        tables.append(row)
    return tables


def pq_adc_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ codes table: build the
    (m x k) query-to-centroid distance table driver-side, bake it as
    literals, and score each row as the m-term ordered sum of
    element_at lookups — a narrow scan of the codes table with zero
    shuffle before TakeOrderedAndProject."""
    tables = _py_adc_table(codebooks, query_vec)
    adc = None
    for mi, row in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(x) for x in row]), F.col(f"c{mi}") + 1
        )
        adc = term if adc is None else adc + term
    scored = codes.select(F.col(id_col), adc.alias("adc_dist"))
    return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)


def portable_pq_adc_topk(
    corpus: DataFrame,
    query_vec,
    m: int = 4,
    centroid_ids=tuple(range(1, 17)),
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-ADC top-k with a DATA-POINT codebook: subspace ``mi``'s
    centroids are the ``mi``-th subvectors of the corpus rows with the
    given ids (k = len(centroid_ids)), so — like portable_ivf_topk —
    training disappears and every stage (encode argmin, ADC table,
    ordered m-term sum, tie-breaks) replays bit-for-bit in a SQL
    oracle.

    Scale shape: codebook = bounded driver fetch baked as literals;
    encode = narrow map (pq_encode); ADC = codes-only scan +
    TakeOrderedAndProject (pq_adc_topk)."""
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in corpus.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, vec_col)
        .collect()
    }
    if not rows:  # empty corpus: empty answer, not a crash
        return _empty_topk(corpus, id_col, "adc_dist")
    ordered = [rows[cid] for cid in sorted(rows)]
    d = len(ordered[0])
    dsub = d // m
    books = np.array(
        [[cv[mi * dsub : (mi + 1) * dsub] for cv in ordered] for mi in range(m)]
    )
    codes = pq_encode(corpus, books, vec_col, id_col)
    return pq_adc_topk(codes, books, query_vec, k=k, id_col=id_col)


def portable_pq_adc_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    centroid_ids: Sequence[int] = tuple(range(4, 20)),
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BATCHED PQ-ADC serving — the PQ member of the batched retrieval
    family (IVF: portable_ivf_batch_topk, LSH: portable_lsh_batch_topk).
    A whole DataFrame of query vectors is served in one plan with NO
    driver fetch anywhere: the data-point codebook folds into one
    cid-sorted broadcast row; the corpus encode is a map-only argmin
    scan over subspace sqdists (ties to the lowest code, matching the
    oracle's row_number); each QUERY row carries its own ADC distance
    tables as array columns built by the same subspace folds; the
    query table broadcasts onto the codes-only scan and the ADC
    distance is the ordered m-term sum of per-code lookups. Per-query
    top-k via a window over (adc_dist asc, vec_id). Returns
    (qid, vec_id, adc_dist).

    Scale shape: the fact-side scan still reads m small-int codes per
    vector (the ~64x PQ I/O story); the |C| x |Q| ADC expansion is
    arithmetic on those codes against broadcast tables, collapsed by
    the window's partial TakeOrdered before the one candidate
    shuffle."""
    v = F.col(vec_col).cast("array<double>")
    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:  # empty corpus: empty answer, not a crash
        return _empty_batch_result(corpus, "adc_dist")
    dsub = int(dim_row["d"]) // m

    cents = corpus.filter(F.col(id_col).isin(list(centroid_ids))).select(
        F.col(id_col).cast("long").alias("_cid"), v.alias("_ce")
    )
    book = cents.agg(
        F.array_sort(F.collect_list(F.struct("_cid", "_ce"))).alias("book")
    )

    def sub(col: Column, mi: int) -> Column:
        return F.slice(col, mi * dsub + 1, dsub)

    # corpus encode: per subspace, argmin over the codebook (first
    # match over the cid-sorted book = lowest-cid tie-break); codes
    # are POSITIONS (1-based) into the book, which is all ADC needs
    def book_dists(vcol: str, mi: int) -> Column:
        # NB: mi must be captured by a closure FACTORY — a defaulted
        # second lambda parameter (lambda s, mi=mi: ...) would make
        # PySpark pass the array INDEX into it as the (element, index)
        # form of transform()
        return F.transform(
            F.col("book"),
            lambda s: sqdist(sub(F.col(vcol), mi), sub(s["_ce"], mi)),
        )

    enc = corpus.select(F.col(id_col).alias("vec_id"), v.alias("v")).crossJoin(
        F.broadcast(book)
    )
    code_cols = []
    for mi in range(m):
        d_mi = book_dists("v", mi)
        code_cols.append(
            F.array_position(d_mi, F.array_min(d_mi)).cast("int").alias(f"c{mi}")
        )
    codes = enc.select("vec_id", *code_cols)

    q = queries.select(F.col(id_col).alias("qid"), v.alias("qv")).crossJoin(
        F.broadcast(book)
    )
    qtabs = q.select(
        "qid", *[book_dists("qv", mi).alias(f"qd{mi}") for mi in range(m)]
    )

    cand = codes.crossJoin(F.broadcast(qtabs))
    adc = F.element_at(F.col("qd0"), F.col("c0"))
    for mi in range(1, m):
        adc = adc + F.element_at(F.col(f"qd{mi}"), F.col(f"c{mi}"))
    scored = cand.select("qid", "vec_id", adc.alias("_adc"))
    return _per_query_topk(scored, "_adc", k, "adc_dist", ascending=True)


def nearest_seed_assignment(
    embeddings_df: DataFrame,
    seed_vectors: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, v, cid, mindist): nearest-centroid assignment against a
    literal seed codebook — squared L2 via the shared ordered-fold
    sqdist (bit-identical across engines), ties to the lowest centroid
    id via array_position's first-match. Map-only narrow scan; the
    shared building block of the Lloyd step and SemDeDup blocking."""
    from dat_archive_map_reduce_spark.operators._util import fan_out

    e = fan_out(
        embeddings_df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    seeds_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in seed_vectors]
    )
    with_d = e.select(
        "vid", "v", F.transform(seeds_lit, lambda c: sqdist(F.col("v"), c)).alias("d")
    )
    return with_d.select(
        "vid",
        "v",
        (F.array_position(F.col("d"), F.array_min("d")) - 1).cast("int").alias("cid"),
        F.array_min("d").alias("mindist"),
    )


def nearest_centroid_join(
    embeddings_df: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    centroid_col: str = "centroid",
) -> DataFrame:
    """(vid, v, cid, mindist): nearest-centroid assignment where the
    codebook arrives as a DataFrame — the adaptive-k scale path next
    to nearest_seed_assignment's literal path.

    The centroid table is folded into ONE row holding the codebook as
    an array<struct<cid,c>> SORTED by cid, broadcast onto the
    embedding scan via a broadcast nested-loop cross join. The
    codebook is therefore DATA, not expression nodes: plan size,
    analysis, and janino codegen are O(1) in k (the same
    broadcast-payload-not-literals recipe as text._bpe_fold_batch),
    and nothing is ever collected to the driver. At SemDeDup's paper
    scale (k=50k, dim 768) the broadcast is ~300 MB of doubles — a
    normal broadcast-table size — where the literal form is 38M
    expression nodes that kill analysis long before the data hurts.

    Semantics are bit-identical to nearest_seed_assignment: squared
    L2 via the shared ordered-fold sqdist, ties to the LOWEST cid via
    array_position's first match over the cid-sorted codebook.
    Assignment itself is map-only and narrow — the only exchange is
    the one-row codebook broadcast."""
    from dat_archive_map_reduce_spark.operators._util import fan_out

    e = fan_out(
        embeddings_df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    book = centroids_df.select(
        F.col(cid_col).cast("int").alias("_cid"),
        F.col(centroid_col).cast("array<double>").alias("_c"),
    ).agg(F.array_sort(F.collect_list(F.struct("_cid", "_c"))).alias("book"))
    with_d = e.crossJoin(F.broadcast(book)).select(
        "vid",
        "v",
        "book",
        F.transform(F.col("book"), lambda s: sqdist(F.col("v"), s["_c"])).alias("d"),
    )
    return with_d.select(
        "vid",
        "v",
        F.element_at(
            F.col("book"), F.array_position(F.col("d"), F.array_min("d")).cast("int")
        )["_cid"].alias("cid"),
        F.array_min("d").alias("mindist"),
    )


def kmeans_lloyd_step(
    embeddings_df: DataFrame,
    seed_vectors: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd (k-means) iteration from literal seed
    centroids: assign every vector to its nearest seed (squared L2 via
    the shared ordered fold sqdist — bit-identical across engines;
    ties break to the lowest centroid id via array_position's
    first-match), then recompute per-cluster means and inertia.

    Output grain is (cid, dim): the dim-th coordinate of cluster cid's
    NEW centroid, with the cluster's member count and inertia (sum of
    squared distance to the SEED it was assigned to) repeated per row —
    k*dim rows total, every column scalar-typed.

    Scale shape: seeds ride into the assignment scan as literals
    (standard broadcast-codebook recipe, like IVF/PQ); assignment is
    map-only and narrow. The mean recomputation is ONE partial-combined
    shuffle whose payload is k*dim partial (sum, count) pairs per task
    — never the vectors. Iterating Lloyd = calling this per round with
    the previous round's means; the per-round cost is one scan + one
    k*dim-sized shuffle, the textbook distributed k-means bound.
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    # persisted: the means and stats branches both read the assignment
    # — without it the k*dim distance scan runs twice (and its fan_out
    # exchange appears once per branch)
    assigned = nearest_seed_assignment(
        embeddings_df, seed_vectors, id_col=id_col, vec_col=vec_col
    ).persist()
    stats = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.sum("mindist"), 4).alias("inertia"),
    )
    means = (
        assigned.select("cid", F.posexplode("v").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("val"), 6).alias("mean_val"))
    )
    out = means.join(stats, "cid").select(
        "cid", "dim", "mean_val", "n_assigned", "inertia"
    )
    return eager_release(out, assigned)


def kmeans_lloyd_step_table(
    embeddings_df: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kmeans_lloyd_step with the codebook as a TABLE: same output
    grain (cid, dim, mean_val, n_assigned, inertia), but assignment
    goes through nearest_centroid_join's broadcast codebook row, so k
    can be adaptive (SemDeDup/IVF-training scale) with O(1) plan size
    and no driver vectors. The update is still ONE partial-combined
    shuffle of k*dim (sum, count) pairs per task."""
    from dat_archive_map_reduce_spark.operators._util import eager_release

    assigned = nearest_centroid_join(
        embeddings_df, centroids_df, id_col=id_col, vec_col=vec_col
    ).persist()
    stats = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.sum("mindist"), 4).alias("inertia"),
    )
    means = (
        assigned.select("cid", F.posexplode("v").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("val"), 6).alias("mean_val"))
    )
    out = means.join(stats, "cid").select(
        "cid", "dim", "mean_val", "n_assigned", "inertia"
    )
    return eager_release(out, assigned)


def kmeans_train_distributed(
    embeddings_df: DataFrame,
    centroids_df: DataFrame,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    track_history: bool = True,
) -> "tuple[DataFrame, list[float]]":
    """Multi-round distributed Lloyd whose per-round state is the
    centroid TABLE — never literals, never driver-side vectors (the
    round-4 stretch goal: the same scale story for adaptive-k k-means
    training as for SemDeDup assignment). Per round: one map-only
    broadcast-codebook assignment scan + one k*dim partial-combined
    means shuffle; the new centroid table (k rows, rebuilt from the
    dim-sorted means, empty clusters keeping their previous centroid)
    is localCheckpointed so plan depth stays O(1) in rounds. Means
    round to 6 decimals each round — the same stabilization the
    oracle-gated Lloyd step uses, which is what lets a SQL oracle
    replay a CHAIN of rounds. The only values the driver ever sees
    are the per-round total inertias (returned as the history)."""
    cents = centroids_df.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("centroid").cast("array<double>").alias("centroid"),
    )
    history: list[float] = []
    for _ in range(n_iter):
        step = kmeans_lloyd_step_table(
            embeddings_df, cents, id_col=id_col, vec_col=vec_col
        )
        if track_history:
            history.append(
                float(
                    step.select("cid", "inertia")
                    .distinct()
                    .agg(F.sum("inertia"))
                    .first()[0]
                )
            )
        new = step.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("_new")
        )
        cents = (
            cents.join(new, "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("_new"), F.col("centroid")).alias("centroid"),
            )
            .localCheckpoint(eager=True)  # k rows — tiny, truncates lineage
        )
        step.unpersist()
    return cents, history


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims with
    the md5-derived Rademacher planes (Achlioptas database-friendly
    projections — same portable plane family as portable_lsh_topk, so
    an SQL oracle re-derives every sign): proj_p = dot(v, s_p) /
    sqrt(out_dim), which preserves squared norms in expectation.

    Returns per vector: the original and projected squared norms and
    their ratio (the JL distortion a pipeline monitors when shrinking
    embedding storage). Every float reduction is an ordered ascending-
    index fold — projections, norms, and the plane-order sum are
    bit-identical across engines. Map-only narrow projection: the
    planes ride as literals, nothing shuffles at any scale.
    """
    in_dim_row = df.select(F.size(vec_col).alias("d")).first()
    planes = _portable_planes(out_dim, in_dim_row["d"])
    scale = float(out_dim) ** 0.5
    planes_lit = F.array(
        *[F.array(*[F.lit(s) for s in p]) for p in planes]
    )
    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    proj = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(F.col("v"), p, lambda x, s: x * s),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        / F.lit(scale),
    )
    n2 = lambda arr: F.aggregate(  # noqa: E731 — ordered square-sum fold
        arr, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x
    )
    # raw norms materialize once per row; rounding and the ratio come
    # from the same unrounded values (the oracle mirrors this split)
    raw = e.select(
        id_col, n2(F.col("v")).alias("_no"), n2(proj).alias("_np")
    )
    return raw.select(
        id_col,
        F.round("_no", 6).alias("n2_orig"),
        F.round("_np", 6).alias("n2_proj"),
        F.round(F.col("_np") / F.col("_no"), 4).alias("ratio"),
    )


def _dim_stats_row(
    e: DataFrame, vec_col: str = "v", round_digits: int = 6
) -> DataFrame:
    """Per-dimension (mean, stddev_pop) of an array column, folded to
    ONE broadcast row of dim-ordered arrays — the DSIR metadata-fold
    recipe: the posexplode aggregate reduces to d rows (bounded by the
    embedding width, never the corpus), and the final collect_list
    runs on those d rows only, so the single-partition exchange
    carries metadata cardinality, not data."""
    stats = (
        e.select(F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("val"), round_digits).alias("mu"),
            F.round(F.stddev_pop("val"), round_digits).alias("sd"),
        )
    )
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
        ).alias("mus"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "sd"))), lambda s: s["sd"]
        ).alias("sds"),
    )


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension z-score standardization (feature whitening) of an
    embedding column — the preprocessing step before PCA/clustering/
    linear probes when dimensions carry different scales. Each element
    becomes z_j = (x_j - mean_j) / std_j with population std (std=0
    dims map to 0, not NaN/inf).

    Returns per vector: the standardized squared norm and element sum
    (6dp), both ordered ascending-index folds over the z array — any
    single wrong element shifts both, so the hash gate proves every
    element without hashing d columns. Means/stds round to 6dp before
    use (the kmeans/pagerank quantization: shuffle-order float drift
    is ~1e-16 relative, orders of magnitude under the quantum), so a
    SQL oracle re-derives every z exactly.

    Scale shape: one posexplode aggregate to the d-row stats table
    (partial-combined, d = embedding width), folded to a single
    broadcast row (_dim_stats_row); the standardization itself is a
    map-only zip over the broadcast arrays — no per-row shuffle at
    any corpus size."""
    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    stats = _dim_stats_row(e)
    z = F.zip_with(
        F.col("v"),
        F.zip_with(F.col("mus"), F.col("sds"), lambda m, s: F.struct(m.alias("m"), s.alias("s"))),
        lambda x, ms: F.when(ms["s"] == 0.0, F.lit(0.0)).otherwise(
            (x - ms["m"]) / ms["s"]
        ),
    )
    fold_sum = lambda arr: F.aggregate(  # noqa: E731 — ordered fold
        arr, F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )
    fold_sq = lambda arr: F.aggregate(  # noqa: E731 — ordered fold
        arr, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x
    )
    return e.crossJoin(F.broadcast(stats)).select(
        id_col,
        F.round(fold_sq(z), 6).alias("z_norm2"),
        F.round(fold_sum(z), 6).alias("z_sum"),
    )


def mmr_select_step(
    corpus: DataFrame,
    query_id: int,
    selected_ids: "Sequence[int]",
    lam: float = 0.7,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """One Maximal-Marginal-Relevance selection step (Carbonell &
    Goldstein 1998): rank the corpus by

        mmr = lam * cos(query, d) - (1 - lam) * max_{s in S} cos(s, d)

    — relevance to the query minus redundancy against the
    already-selected set S. Greedy MMR repeats this with the winner
    appended to S; the quantized single step is oracle-replayable
    (the kmeans-/kcenter-/BPE-step pattern for greedy iteration).

    Scale shape: the selected set rides as a broadcast (|S| rows —
    bounded by the selection budget); one |S|-way fan-out per corpus
    row folds back with a partial-combined max on the candidate key;
    top-k plans as TakeOrderedAndProject. Ranking compares the
    ``round_digits``-rounded score (id tiebreak) so both engines rank
    on the grid they agree on — the 4dp default is the proven
    cross-engine cosine quantum (emb_cosine_topk precedent)."""
    # the query vector rides in the same broadcast as S (rel is the
    # sid == query_id slot of the fan-out); candidates exclude S but
    # not the query unless it was selected
    sel_ids = sorted({int(query_id)} | {int(s) for s in selected_ids})
    # NULL-embedding rows are dropped on BOTH sides (a dirty row must
    # not poison every candidate's max-aggregate, and a NULL candidate
    # has no rankable score); zero-norm vectors still yield NULL
    # cosine rows, documented below
    sel = corpus.filter(
        F.col(id_col).isin(sel_ids) & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).cast("array<double>").alias("sv"),
    )
    cand = corpus.filter(
        ~F.col(id_col).isin([int(s) for s in selected_ids])
        & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    pair_cos = cosine(F.col("cv"), F.col("sv"))
    scored = (
        cand.crossJoin(F.broadcast(sel))
        .groupBy("cid")
        .agg(
            F.max(
                F.when(F.col("sid") == int(query_id), pair_cos)
            ).alias("rel"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("sid").isin([int(s) for s in selected_ids]),
                        pair_cos,
                    )
                ),
                # empty selected set (the loop's first step): no
                # redundancy yet — degrade to pure relevance ranking
                F.lit(0.0),
            ).alias("div"),
        )
    )
    # precondition check in the data path (not a separate column, so
    # Catalyst can't prune it): with NULL embeddings filtered above,
    # a NULL rel means query_id is absent from the corpus (or its
    # embedding is NULL), or this candidate/query vector is zero-norm
    # (cosine divides by 0) — either way the row has no rankable
    # score, and letting it through would silently degrade the
    # ranking to the id tiebreak. Fail loudly instead.
    rel_checked = F.when(F.col("rel").isNotNull(), F.col("rel")).otherwise(
        F.raise_error(
            F.lit(
                f"mmr_select_step: no rankable relevance for some candidate "
                f"— query_id {int(query_id)} is missing / NULL-embedded, or "
                f"a vector is zero-norm (cosine undefined)"
            )
        )
    )
    return (
        scored.select(
            F.col("cid").alias(id_col),
            F.round(rel_checked, round_digits).alias("relevance"),
            F.round("div", round_digits).alias("redundancy"),
            F.round(
                F.lit(float(lam)) * F.col("rel")
                - F.lit(1.0 - float(lam)) * F.col("div"),
                round_digits,
            ).alias("mmr"),
        )
        .orderBy(F.desc("mmr"), F.asc(id_col))
        .limit(k)
    )


def pca_power_iteration_step(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One covariance-free power-iteration step toward the top
    principal component (distributed PCA, the Halko/NIPS-era
    randomized-sketch building block): with X centered and v0 the
    deterministic uniform unit vector (1/sqrt(d), derived in-plan
    from the broadcast stats row — exact when d is a perfect square,
    64 here),

        u = X_c v0        (per-row dot, map-only)
        w = X_c^T u       (dim-keyed sums)
        w_unit = w / ||w||

    Repeated, w converges to the top eigenvector of X^T X; one
    quantized step is oracle-replayable (the kmeans-step/kcenter-step
    twin pattern for iterative algorithms). Every per-row reduction is
    an ordered ascending-index fold; u and w round to ``round_digits``
    before reuse so both engines walk the same quantized grid.

    Scale shape: means fold to one broadcast row (_dim_stats_row); u
    never leaves its row (no per-row state table); w is ONE
    partial-combined posexplode aggregate to d rows; the norm is a
    single-partition window over those d rows (metadata cardinality).
    Nothing corpus-sized ever single-partitions or collects."""
    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    stats = _dim_stats_row(e)
    # v0 = 1/sqrt(d) derived IN-PLAN from the broadcast stats row (no
    # eager first() job; empty input yields an empty result) — exact
    # when d is a perfect square (sqrt is correctly rounded IEEE)
    centered = e.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        (F.lit(1.0) / F.sqrt(F.size("mus"))).alias("_v0"),
        F.zip_with(F.col("v"), F.col("mus"), lambda x, m: x - m).alias("xc"),
    )
    u = F.round(
        F.aggregate(
            F.col("xc"),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x * F.col("_v0"),
        ),
        round_digits,
    )
    w = (
        centered.select(F.col(id_col), u.alias("u"), F.posexplode("xc").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.round(F.sum(F.col("x") * F.col("u")), round_digits).alias("w_raw"))
    )
    # global window over the per-DIM aggregate: <= d rows by
    # construction (embedding width — bounded metadata, never the
    # fact table)
    norm = F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw")).over(Window.partitionBy()))
    return w.select(
        "dim",
        "w_raw",
        F.round(F.col("w_raw") / norm, round_digits).alias("w_unit"),
    ).orderBy("dim")


def semdedup_pairs(
    embeddings_df: DataFrame,
    seed_vectors: "Sequence[Sequence[float]] | DataFrame",
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embeddings, then search for near-duplicate pairs ONLY within
    each cluster — the cluster equi-join turns the O(N^2) semantic
    dedup into O(sum of cluster_size^2), and at scale k grows with the
    corpus so cluster sizes stay bounded (the paper runs k=50k on
    LAION). Cross-cluster near-dups are missed BY DESIGN (the paper's
    accepted approximation; recall is pinned in tests against the
    exact all-pairs kernel).

    ``seed_vectors`` may be a driver-side list (small fixed k — test
    and Lloyd-step callers) or a DataFrame of (cid, centroid) — the
    scale path: SemDeDup's k grows with the corpus (max(8, N/64);
    the paper runs k=50k on LAION), and at that k the codebook must
    stay a broadcast TABLE (nearest_centroid_join), never driver
    literals. Assignment is one broadcast-codebook scan either way;
    the within-cluster self-join shuffles on cid; pair cosine is
    exact. Returns (cid, id_a, id_b, cos_sim >= threshold).
    """
    from dat_archive_map_reduce_spark.operators._util import eager_release

    if isinstance(seed_vectors, DataFrame):
        base = nearest_centroid_join(
            embeddings_df, seed_vectors, id_col=id_col, vec_col=vec_col
        )
    else:
        base = nearest_seed_assignment(
            embeddings_df, seed_vectors, id_col=id_col, vec_col=vec_col
        )
    # persisted: the self-join reads BOTH sides from this one
    # assignment scan — without it Spark recomputes the k*dim
    # codebook distance pass twice
    assigned = (
        base
        # per-row norm computed ONCE here instead of twice per pair —
        # the pair stage then runs one fold (the dot), not three
        .select("vid", "v", "cid", norm(F.col("v")).alias("nv"))
        .persist()
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vid") < F.col("b.vid")),
    ).select(
        F.col("a.cid").alias("cid"),
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        (dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))).alias(
            "cos"
        ),
    )
    out = pairs.filter(F.col("cos") >= threshold).select(
        "cid", "id_a", "id_b", F.round("cos", 4).alias("cos_sim")
    )
    return eager_release(out, assigned)


def kcenter_select(
    embeddings_df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    start_id: int = 0,
) -> "list[tuple[int, int, float]]":
    """Greedy k-center / farthest-point-first coreset selection
    (Gonzalez 1985, the 2-approximation): start from ``start_id``,
    then k-1 times pick the point FARTHEST (squared L2, ties to the
    lowest id) from the already-chosen set — the standard diverse
    subset / coreset primitive for training-data curation (herding,
    active-learning seeds, prototype selection).

    Returns [(sel_idx, vec_id, radius_sq)] where radius_sq is the
    selected point's (6dp-rounded) squared distance to the prior set
    — non-increasing by construction, and radius_sq of the last pick
    upper-bounds every point's distance to the final set (the
    k-center coverage guarantee). If fewer than ``k`` distinct points
    exist (the farthest remaining distance hits 0), selection stops
    early rather than re-selecting already-chosen points, so the
    returned list may be shorter than ``k`` but never contains
    duplicate prototypes.

    Scale shape: each round is one nearest_centroid_join scan (the
    chosen set folds to ONE broadcast codebook row — data, not plan
    literals) + TakeOrdered(1) for the argmax. The only driver
    traffic is ONE winner row per round (the BPE merge-winner
    precedent: inherent to greedy iteration, bounded by k).
    """
    # persist the projected/cast input for the k-1 rounds: every
    # round re-scans the full table for its distance pass, and
    # without the cache each scan repays parquet read + f32->f64
    # cast (7 redundant scans at k=8 — measured ~2.5x the query's
    # whole steady time at sf0.1)
    e = embeddings_df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    caches = [e]
    try:
        first = e.filter(F.col("vid") == start_id).first()
        if first is None:
            raise ValueError(
                f"kcenter_select start_id={start_id} not present in "
                f"{id_col} — pass an existing row id"
            )
        chosen: "list[tuple[int, int, float]]" = [(0, int(first["vid"]), 0.0)]

        def dist_to(vec: "list[float]") -> Column:
            # the newest prototype as a bounded literal array (one
            # 64-dim vector — the PQ-codebook-literal precedent), fed
            # to the SAME ordered-fold sqdist every other selection
            # path uses, so each individual distance is bit-identical
            # to the full-codebook form
            return sqdist(
                F.col("v"), F.array(*[F.lit(float(x)) for x in vec])
            )

        # INCREMENTAL farthest-point state (r15): carry each point's
        # min squared distance to the chosen set and fold in ONLY the
        # newest prototype per round — min(min(d_0..d_{r-1}), d_r) is
        # exactly min(d_0..d_r) (float min is exact), so the carried
        # mindist equals the full recompute the previous form paid
        # (O(k^2 n) distances + a codebook-fold broadcast job per
        # round -> O(k n) distances, no codebook stage at all).
        cur = e.select("vid", "v", dist_to(list(first["v"])).alias("mindist"))
        for r in range(1, k):
            cur = cur.persist()
            caches.append(cur)
            far = (
                cur.orderBy(F.desc("mindist"), F.asc("vid"))
                .select(
                    "vid", "v", "mindist", F.round("mindist", 6).alias("radius_sq")
                )
                .first()
            )
            # the TakeOrdered action above materialized every
            # partition of the new state; the previous round's copy
            # (and after round 1 the raw input) is dead — release it
            # so the carried state is one table, not k
            caches.pop(-2).unpersist()
            # stop on the UNROUNDED distance: near-duplicate points within
            # the 6dp reporting quantum must not abort selection early
            if float(far["mindist"]) == 0.0:
                # every remaining point coincides with a chosen one: the
                # dataset has fewer than k distinct points — stop instead
                # of padding the coreset with duplicate prototypes
                break
            chosen.append((r, int(far["vid"]), float(far["radius_sq"])))
            cur = cur.select(
                "vid",
                "v",
                F.least("mindist", dist_to(list(far["v"]))).alias("mindist"),
            )
        return chosen
    finally:
        for c in caches:
            c.unpersist()


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension affine uint8 quantization of an embedding column
    — the standard 4x memory/bandwidth reduction before ANN serving
    (FAISS SQ8): q_j = round((x_j - min_j) * 255 / (max_j - min_j)),
    constant dims map to 0.

    INTEGER-EXACT gate: min/max are order-independent exact doubles
    (f32 -> f64 widening is lossless), the affine transform is one
    fixed double expression both engines evaluate bit-identically,
    and round(., 0) is half-away-from-zero in both — so the code
    checksums below (plain, position-weighted, squared; ordered
    ascending-index folds over the code array) are BIGINTs with no
    rounding quantum anywhere. Any wrong code shifts all three.

    Scale shape (the emb_standardize recipe): one posexplode
    aggregate to the d-row min/max table, folded to a single
    broadcast row; quantization is a map-only zip over the broadcast
    arrays — no per-row shuffle at any corpus size."""
    # NULL embeddings are dropped, matching the oracle's unnest join
    # (a NULL vector has no codes; emitting an all-NULL checksum row
    # would diverge from any SQL replay)
    e = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    stats = (
        e.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )
    # d rows -> ONE broadcast row of dim-ordered arrays (metadata fold)
    row = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )
    q = F.zip_with(
        F.col("v"),
        F.zip_with(
            F.col("mns"), F.col("mxs"), lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))
        ),
        lambda x, s: F.when(s["mx"] == s["mn"], F.lit(0).cast("long")).otherwise(
            F.round((x - s["mn"]) * 255.0 / (s["mx"] - s["mn"]), 0).cast("long")
        ),
    )
    idx = F.zip_with(
        q,
        F.sequence(F.lit(1), F.size("v").cast("bigint")),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    fold = lambda arr, f: F.aggregate(  # noqa: E731 — ordered fold
        arr, F.lit(0).cast("long"), f
    )
    return e.crossJoin(F.broadcast(row)).select(
        id_col,
        fold(idx, lambda a, s: a + s["c"]).alias("q_sum"),
        fold(idx, lambda a, s: a + s["c"] * s["i"]).alias("q_wsum"),
        fold(idx, lambda a, s: a + s["c"] * s["c"]).alias("q_norm2"),
    )
