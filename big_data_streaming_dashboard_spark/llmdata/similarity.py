"""Embedding similarity search over the ``embeddings`` table.

Brute-force cosine top-k as the correctness baseline, and an
LSH-bucketed variant as the scale path.

Numeric discipline (oracle parity): dot products are ORDERED left
folds over the element pairs (``F.aggregate`` over ``zip_with``) --
never an unordered SUM over exploded rows, whose float reassociation
differs run-to-run and engine-to-engine. float32 inputs are cast to
double before any arithmetic. sqrt is IEEE-exact, so norms match too.

Scale paths (100 TB of vectors): brute force is a broadcast
nested-loop against a small query set -- fine when |queries| is small
(the broadcast side) and linear in the corpus. ``simhash_hamming_topk``
prefilters with a wide binary signature (8x less data read, XOR+popcount
instead of multiply-add) before exact re-rank; ``lsh_banded_topk``
generates candidates with a banded (band, sig) equi-join for large
query sets; ``embedding_neardup_pairs`` reuses the banding for
all-pairs -- same shape as the MinHash/LSH text path. Parameter
measurements in the section comment below.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..physical import (
    at_scale,
    attach,
    corpus_count,
    ids_packable,
    pack_pair,
    plan_cached,
    scale_hint,
    unpack_pair,
)


# embeddings-table vector width (fixture and default corpus). Array
# columns carry no length in the Spark schema, so the dim must be a
# parameter -- probing it with .first() would run a driver-side Spark
# job at plan-construction time (a collect()-class action in the hot
# path). Callers with a different corpus pass dim= explicitly.
EMBEDDING_DIM = 64


@lru_cache(maxsize=8)
def gaussian_planes(n: int, dim: int, seed: int = 42) -> tuple:
    """``n`` deterministic pseudo-random Gaussian hyperplanes.

    Seeded ``numpy.random.RandomState`` (frozen Mersenne-Twister
    semantics, stable across numpy versions) so the same literal
    doubles can be embedded in both the Spark plan and the DuckDB
    oracle SQL. Gaussian directions matter: a rational-lattice formula
    tried first produced CORRELATED (even repeating) planes -- measured
    recall stopped improving past ~12 planes because extra planes were
    duplicates. Returned as nested tuples so the lru_cache key and the
    literals are immutable."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n, dim))
    return tuple(tuple(float(x) for x in p) for p in planes)


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Ordered left-fold dot product (deterministic across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """Same left-associated sum as ``dot`` -- (((0+p0)+p1)+...) --
    but as a flat expression chain instead of a higher-order fold.
    HOFs evaluate interpreted per element; this unrolled form stays in
    whole-stage codegen (~3-4x faster in the pairwise hot loop).
    Bit-identical result: 0.0+p0 == p0, same order, same doubles.

    Pass column NAMES where possible: the string form is ONE parsed
    SQL expression (F.expr, ~3 ms), while chaining 64 Column operator
    calls costs ~0.9 s of py4j round trips PER DOT at plan
    construction -- measured 2.6 s of the brute-force query's bench
    time was building its four dots. SQL `arr[i]` is 0-based, exactly
    getItem(i)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(" + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim)))
    out = a.getItem(0) * b.getItem(0)
    for i in range(1, dim):
        out = out + a.getItem(i) * b.getItem(i)
    return out


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    dim: int = EMBEDDING_DIM,
    unroll: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query side is tiny by construction -> broadcast join, no
    shuffle of the corpus; ranking is a per-query-group top-k window
    (WindowGroupLimit: per-partition heaps before the exchange).
    Hot-loop discipline: norms are computed ONCE per row (not per
    pair); the pairwise dot is the HOF fold -- bit-identical to the
    unrolled chain (0.0+p0 == p0, same order). The r7 interleaved A/B
    (8 reps, same session, sf0.1 AND the 10x fixture) reversed the
    r1-era unrolled-wins measurement at bench scales: the 4x 64-term
    expression trees cost ~0.4 s of per-execution plan processing on
    the driver while the fold's interpreted eval is below noise up to
    at least 100k pairs (HOF 0.38/0.45 min/median vs unrolled
    0.69/0.81 at sf0.1; 0.38/0.45 vs 0.79/0.85 at 10x). The driver
    cost is CONSTANT in data size, so the crossover where unrolled
    codegen eval wins sits around ~1M+ scored pairs -- pass
    ``unroll=True`` for that regime (no data probe here by design, so
    the caller makes the call). ``dim`` is a plan-time parameter (see
    EMBEDDING_DIM).
    """
    if unroll:
        _d = lambda a, b: dot_unrolled(a, b, dim)  # noqa: E731
    else:
        _d = lambda a, b: dot(F.col(a), F.col(b))  # noqa: E731
    qs = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        _dvec("embedding").alias("qvec"),
    )
    qs = qs.withColumn("qnorm", F.sqrt(_d("qvec", "qvec")))
    corpus = embeddings.select(
        "vec_id", _dvec("embedding").alias("cvec"), "label"
    ).withColumn("cnorm", F.sqrt(_d("cvec", "cvec")))
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            (
                _d("qvec", "cvec")
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def knn_label_vote(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """k-NN majority-label classification per query vector: top-k by
    cosine, then argmax of label votes (count desc, label asc)."""
    topk = brute_force_topk(embeddings, n_queries=n_queries, k=k, dim=dim)
    votes = topk.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


def _kmeans_fit(
    embeddings: DataFrame, k: int = 8, iterations: int = 5
) -> DataFrame:
    """Shared Lloyd loop: (vec_id, v, cluster) after the final
    assignment -- consumed by `kmeans_assign` (drops v) and
    `kmeans_inertia` (scores v against reporting centroids)."""
    vecs = embeddings.select("vec_id", _dvec("embedding").alias("v")).persist()
    # seed = first k rows by vec_id -- limit(), NOT a `vec_id < k`
    # filter (the pq_encode rule): a sparse / non-0-based id space
    # under-fills the filter form and the means fallback below then
    # indexes past the seed list (IndexError -- hit by the IVF-PQ 10x
    # run, whose base corpus holds out every 5th vec_id). Dense
    # 0-based corpora -- every oracle fixture -- seed identically
    # either way, so oracle pairings are unchanged; with fewer
    # vectors than k the centroid list shrinks to the corpus size.
    seed_rows = vecs.orderBy("vec_id").limit(k).collect()
    if not seed_rows:
        raise ValueError("_kmeans_fit: empty embeddings input")
    k = min(k, len(seed_rows))
    centroids = [list(r["v"]) for r in seed_rows]

    def assign_col(cents: list[list[float]]) -> Column:
        # one parsed literal string, not k*dim F.lit py4j calls (same
        # plan-construction economics as dot_unrolled's name form)
        cent_arr = F.expr(
            "array(%s)"
            % ", ".join(
                "array(%s)" % ", ".join(repr(x) for x in c) for c in cents
            )
        )
        dists = F.transform(
            cent_arr,
            lambda c: F.aggregate(
                F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    assigned = None
    for _ in range(iterations):
        assigned = vecs.withColumn("cluster", assign_col(centroids))
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_cluster[c][p] for p in range(len(centroids[0]))]
            if c in by_cluster
            else centroids[c]
            for c in range(k)
        ]
    return assigned.select("vec_id", "v", "cluster")


def kmeans_assign(
    embeddings: DataFrame, k: int = 8, iterations: int = 5
) -> DataFrame:
    """Lloyd k-means over the embedding column (iterative algorithm --
    genuinely not SQL-expressible as iteration, but the seeded
    unrolled loop IS oracle-paired: llm_sql.kmeans_assign_sql).

    Deterministic: init centroids = the first k vectors by vec_id;
    assignment ties broken by lowest centroid index (array_position
    finds the first minimum). Per iteration: broadcast the k centroids
    as literals (k x dim doubles -- tiny), assign by squared distance,
    recompute means via posexplode + per-dimension avg. Only the k
    centroids ever reach the driver; the corpus stays distributed."""
    return _kmeans_fit(embeddings, k, iterations).select("vec_id", "cluster")


def kmeans_inertia(
    embeddings: DataFrame, k: int = 8, iterations: int = 5
) -> DataFrame:
    """Clustering-quality evaluator (r12): per-cluster size and
    within-cluster sum of squared distances (inertia) over the final
    k-means assignment -- the elbow/quality number read when choosing
    k, completing the evaluator family (ANN recall x3, banding
    recall x2, estimator calibration, now clustering inertia).

    Exactness: the FINAL assignment is cross-engine pinned (the
    margin argument kmeans_assign's oracle rests on), but the FLOAT
    centroids are each engine's own avg() and differ in ULPs -- so
    inertia is defined against micro-unit REPORTING centroids
    recomputed from the final assignment with the exact pattern of
    `source_micro_means` (DECIMAL-quantized component sums ->
    round(mean * 1e6) int64), and every component quantizes to the
    same micro-units before the squared difference: the whole SSE is
    exact int64 arithmetic (<= dim * (2e6)^2 * n per cluster, far
    under 2^63 at any tested scale), reported as one IEEE division.
    The 1e-6 quantization is documented semantics, not noise: the
    elbow signal it exists for is invariant to it.

    At scale: inherits the fit's distributed shape; the extra work is
    one posexplode + a (cluster, pos) aggregate and a broadcast-sized
    join back -- nothing new reaches the driver."""
    fitted = _kmeans_fit(embeddings, k, iterations)
    comps = fitted.select(
        "cluster", F.posexplode("v").alias("pos", "_x")
    ).select(
        "cluster",
        "pos",
        F.round(F.col("_x") * 1_000_000).cast("long").alias("_xm"),
        F.col("_x").cast("double").cast("decimal(20,10)").alias("_xd"),
    )
    mu = (
        comps.groupBy("cluster", "pos")
        .agg(F.sum("_xd").alias("_sum"), F.count(F.lit(1)).alias("_n"))
        .select(
            "cluster",
            "pos",
            F.round(
                F.col("_sum").cast("double") / F.col("_n").cast("double")
                * 1_000_000
            )
            .cast("long")
            .alias("_mu"),
        )
    )
    d = F.col("_xm") - F.col("_mu")
    return (
        comps.join(mu, ["cluster", "pos"])
        .groupBy("cluster")
        .agg(
            # vectors, not components: count the pos==0 rows (dim-agnostic)
            F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
            .cast("long")
            .alias("_nrows"),
            F.sum(d * d).alias("_sse_micro2"),
        )
        .select(
            "cluster",
            F.col("_nrows").alias("n_vecs"),
            (F.col("_sse_micro2").cast("double") / F.lit(1e12)).alias(
                "inertia"
            ),
        )
    )


def ivf_centroids(corpus: DataFrame) -> DataFrame:
    """(cluster, centroid) per-cluster means of the FINAL k-means
    assignment, from a (cluster, vec, ...) frame -- the probe-ranking
    side of the IVF family, defined ONCE (r15 review: this block and
    the probe/score rules below were verbatim-copied between
    `ivf_topk` and the streaming IVF sink, now
    `llm_ingest.dense_topk_batches`; parity claims must rest on shared
    code, the `_dense_cosine_topk` precedent)."""
    return (
        corpus.select("cluster", F.posexplode("vec").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            "cluster",
            F.transform("_pm", lambda s: s.getField("m")).alias("centroid"),
        )
    )


def ivf_probe_rank(qs: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """The IVF multi-probe rule: rank every centroid by squared
    distance to the query, keep the ``n_probe`` nearest; ties
    (d2, cluster). qs must carry (query_id, qvec); returns
    (query_id, qvec, probe_cluster). Shared by `ivf_topk` and
    `llm_ingest.dense_topk_batches`."""
    qc = qs.select("query_id", "qvec").crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qvec",
        F.col("cluster").alias("probe_cluster"),
        F.aggregate(
            F.zip_with(
                F.col("qvec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ).alias("_d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_d2"), F.col("probe_cluster")
    )
    return (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qvec", "probe_cluster")
    )


def ivf_exact_rank(
    corpus: DataFrame, probes: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """Exact-cosine scoring of the probed cells + per-query top-k:
    (cos DESC, vec_id) rank ties, cos rounded to 6 for display --
    the scoring tail of the IVF family, shared by batch and stream.
    corpus must carry (vec_id, label, vec, cluster)."""
    scored = corpus.join(
        F.broadcast(probes), F.col("cluster") == F.col("probe_cluster")
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    ranked = scored.select(
        "query_id",
        "vec_id",
        "label",
        cosine(F.col("qvec"), F.col("vec")).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            "label",
            "rank",
            F.round("_cos", 6).alias("cos_sim"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_lists: int = 8,
    kmeans_iterations: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: k-means centroids define the inverted
    lists; each query probes its ``n_probe`` nearest cells (the faiss
    ``nprobe`` knob).

    The classic IVF trade: recall < 1 (cell-boundary neighbors
    missed), candidate set ~ n_probe/n_lists of the corpus. Measured
    on the sf0.1 fixture: (n_lists=8, n_probe=1) -> recall 0.51 @
    candidate fraction 1/8; (64, 8) -> 0.895 @ 1/8 -- more, smaller
    cells with multi-probe beat few large cells at the SAME budget.
    At 100 TB the cluster id is the partition/bucket key, so a probe
    touches n_probe partitions. The assignment reuses kmeans_assign
    (deterministic); query->cell distances are a probe-side expansion
    of the broadcast tiny query set, never a corpus scan."""
    assigned = kmeans_assign(embeddings, k=n_lists, iterations=kmeans_iterations)
    corpus = (
        embeddings.select("vec_id", "label", _dvec("embedding").alias("vec"))
        .join(assigned, "vec_id")
    )
    qs = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("cluster").alias("qcluster"),
    )
    if n_probe <= 1:
        probes = qs.withColumnRenamed("qcluster", "probe_cluster")
    else:
        # rank every centroid by distance to the query and keep the
        # n_probe nearest; centroids come from the same deterministic
        # Lloyd run the assignment used (shared rule: ivf_centroids /
        # ivf_probe_rank, also the streaming probe's plan)
        probes = ivf_probe_rank(qs, ivf_centroids(corpus), n_probe)
    return ivf_exact_rank(corpus, probes, k)


# ---------------------------------------------------------------------------
# SimHash signatures, Hamming-radius ANN, banded LSH
#
# Parameter tuning (measured on /root/testdata/sf0.1/embeddings.parquet,
# N=2000, dim=64, true top-10 at cos ~0.31-0.41 vs median ~0.0 -- i.e.
# neighbors only weakly separated from random, the hard case for LSH):
#
#   bucketed/banded hyperplane LSH alone cannot reach recall 0.9 under
#   a candidate budget of corpus/8 on this data: measured (bands x
#   bits, +Hamming-1 multiprobe) -> recall@cand_frac: 24x8 -> 0.945 @
#   0.58, 32x10 -> 0.83 @ 0.31, 64x12 -> 0.81 @ 0.21. The collision-
#   probability gap (p = 1 - theta/pi: 0.61 for a true neighbor vs 0.50
#   random) is too small for sharp banding S-curves.
#
#   Hamming-radius prefiltering over a WIDE signature separates cleanly:
#   E[hamming] = B*theta/pi with sd ~sqrt(B)/2, so at B=256 bits a true
#   neighbor sits ~99 +/- 8 vs random 128 +/- 8 -- a ~3.6 sigma gap.
#   Measured at B=256: tau=112 -> recall 0.960 @ cand_frac 0.119
#   (<= 1/8), tau=116 -> 0.985 @ 0.19, tau=108 -> 0.87 @ 0.068.
#
# 100 TB shape: the signature is 4 int64 words (32 B) per vector vs
# 256 B of float32 -- the radius scan reads 8x less data than brute
# force and evaluates 4 XOR+popcount ops (codegen'd JVM intrinsics)
# per pair instead of 64 multiply-adds; exact cosine then touches only
# the ~3-12% survivors. The filter is stateless and embarrassingly
# parallel (no global top-C selection, no shuffle of the corpus).
# ---------------------------------------------------------------------------

DEFAULT_SIG_BITS = 256
DEFAULT_HAMMING_RADIUS = 112

# banded near-dup defaults: 32 bands x 8 bits = 256 planes. A random
# pair shares a band w.p. 32/2^8 = 1/8 (same candidate budget N^2/8 as
# the round-1 3-plane/8-bucket version) but recall on a cos-0.55 pair
# (p = 0.685) is 1-(1-p^8)^32 ~ 0.79 vs the old single-3-bit-bucket's
# p^3 ~ 0.32 -- ~2.5x the recall at the same join size; >= 0.97 at
# cos 0.7, ~1.0 at cos >= 0.85 (real dup territory).
#
# SCALE KNOB: the candidate budget is bands * N^2 / 2^rows_per_band --
# rows_per_band (bits per band) must GROW with log2(N) or the join goes
# quadratic. The defaults suit ~10^3-10^4 vectors; at 20k vectors the
# 10x fixture measured 32x8 at ~25M candidates (heap-killing on a small
# executor) vs 16x16 at ~90k candidates with 100% recall on true
# near-identical pairs (tests/test_scale10x.py pins this). Real dups
# (cos ~ 1) collide on every band regardless of width, so widening
# bands trades recall only in the soft cos 0.5-0.7 tail.
DEFAULT_NEARDUP_BANDS = 32
DEFAULT_NEARDUP_ROWS = 8


# NB: the interpreted HOF-fold signature path (_with_planes /
# _sign_bits / _band_sigs, see git history) was removed in r5 -- every
# signature now comes from the Arrow-batched numpy kernels below, with
# oracle exactness guaranteed by the measured sign margins
# (tests/test_ann.py::test_sign_margin_blas_vs_fold_parity) instead of
# fold-order mirroring. The ~16k interpreted ops/row it cost dominated
# the vector near-dup family's wall time.


def hamming(a_words: Column, b_words: Column, n_words: int) -> Column:
    """Hamming distance between packed signatures -- unrolled
    XOR+bit_count chain (stays in whole-stage codegen)."""
    out = F.bit_count(a_words.getItem(0).bitwiseXOR(b_words.getItem(0)))
    for w in range(1, n_words):
        out = out + F.bit_count(a_words.getItem(w).bitwiseXOR(b_words.getItem(w)))
    return out


def _packed_words_udf(planes: tuple):
    """Arrow-vectorized signature kernel: embedding batch -> packed
    int64 words. numpy matmul signs the whole batch at once (~100x an
    interpreted HOF fold per plane). BLAS reassociation could in
    principle flip a sign exactly at 0, but the fixture's sign margins
    are ten orders above fold noise (pinned by test_ann's sign-margin
    test), so the oracle-paired paths use these kernels too (r5).
    Closure is self-contained (workers lack the repo PYTHONPATH)."""
    from pyspark.sql.functions import pandas_udf

    plane_rows = [list(p) for p in planes]

    @pandas_udf("array<long>")
    def sign_words(emb: pd.Series) -> pd.Series:
        import numpy as np

        P = np.array(plane_rows, dtype=np.float64)
        n = len(P)
        n_words = (n + 63) // 64
        V = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        bits = (V @ P.T >= 0).astype(np.uint64)
        pad = n_words * 64 - n
        if pad:
            bits = np.concatenate(
                [bits, np.zeros((len(bits), pad), dtype=np.uint64)], axis=1
            )
        words = np.zeros((len(bits), n_words), dtype=np.uint64)
        for w in range(n_words):
            for j in range(64):
                words[:, w] = (words[:, w] << np.uint64(1)) | bits[:, w * 64 + j]
        return pd.Series(list(words.astype(np.int64)))

    return sign_words


def _band_sigs_udf(planes: tuple, bands: int, rows_per_band: int):
    """Arrow-vectorized banded-signature kernel: embedding batch ->
    array<int> of per-band multi-bit signatures. Same rows-only-path
    caveat as `_packed_words_udf`."""
    from pyspark.sql.functions import pandas_udf

    plane_rows = [list(p) for p in planes]

    @pandas_udf("array<int>")
    def band_sigs(emb: pd.Series) -> pd.Series:
        import numpy as np

        P = np.array(plane_rows, dtype=np.float64)
        V = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        bits = (V @ P.T >= 0).astype(np.int64)
        sigs = np.zeros((len(bits), bands), dtype=np.int64)
        for band in range(bands):
            for j in range(rows_per_band):
                sigs[:, band] = sigs[:, band] * 2 + bits[:, band * rows_per_band + j]
        return pd.Series(list(sigs.astype(np.int32)))

    return band_sigs


def _signed_corpus(
    embeddings: DataFrame, n_bits: int, dim: int, seed: int
) -> DataFrame:
    """(vec_id, label, vec, words): corpus with packed signatures."""
    planes = gaussian_planes(n_bits, dim, seed)
    udf = _packed_words_udf(planes)
    return embeddings.select(
        "vec_id", "label", _dvec("embedding").alias("vec"), udf("embedding").alias("words")
    )


def hamming_candidates(
    embeddings: DataFrame,
    n_queries: int = 5,
    n_bits: int = DEFAULT_SIG_BITS,
    radius: int = DEFAULT_HAMMING_RADIUS,
    dim: int = EMBEDDING_DIM,
    seed: int = 42,
) -> DataFrame:
    """(query_id, vec_id, label, qvec, vec) pairs surviving the
    Hamming-radius prefilter. Exposed separately so tests can measure
    the candidate fraction the exact re-rank actually pays for."""
    n_words = (n_bits + 63) // 64
    corpus = _signed_corpus(embeddings, n_bits, dim, seed)
    qs = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("words").alias("qwords"),
    )
    return (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(hamming(F.col("words"), F.col("qwords"), n_words) <= radius)
        .select("query_id", "vec_id", "label", "qvec", "vec")
    )


def simhash_hamming_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_bits: int = DEFAULT_SIG_BITS,
    radius: int = DEFAULT_HAMMING_RADIUS,
    dim: int = EMBEDDING_DIM,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via wide-SimHash Hamming-radius prefilter + exact
    cosine re-rank (binary-quantization prefiltering, the
    IndexBinaryFlat pattern). Measured recall@10 = 0.960 at candidate
    fraction 0.119 on sf0.1 (parameter table in the section comment).

    Approximate by design (radius can drop true neighbors; a query
    with < k survivors returns < k rows) -> rows-only driver check."""
    scored = hamming_candidates(
        embeddings, n_queries, n_bits, radius, dim, seed
    ).select(
        "query_id",
        "vec_id",
        "label",
        (
            dot_unrolled("qvec", "vec", dim)
            / (
                F.sqrt(dot_unrolled("qvec", "qvec", dim))
                * F.sqrt(dot_unrolled("vec", "vec", dim))
            )
        ).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def lsh_banded_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    bands: int = 32,
    rows_per_band: int = 10,
    multiprobe: bool = True,
    dim: int = EMBEDDING_DIM,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via banded multi-bit LSH equi-join (band-OR candidate
    generation + Hamming-1 multiprobe on the query side).

    This is the no-broadcast scale path: when the query set itself is
    large, candidates come from a plain (band, sig) equi-join --
    hash-partitioned, no per-row scan of the corpus per query. Probe
    rows per query = bands * (1 + rows_per_band) with multiprobe; the
    corpus emits ``bands`` rows per vector (the explode ships only
    (vec_id, band, sig), not the vector -- vectors join back after
    candidate dedup). Measured 32x10+mp on sf0.1: recall 0.83 @
    candidate fraction 0.31 -- looser than the Hamming-radius path on
    this weakly-separated fixture (see section comment), tighter on
    real clustered corpora where neighbor collision probability is
    higher. Approximate -> rows-only driver check."""
    planes = gaussian_planes(bands * rows_per_band, dim, seed)
    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)
    # persist: the signature projection feeds both join sides (corpus
    # explode + query probes) -- without it the kernel re-runs per branch
    sigs = embeddings.select("vec_id", sig_udf("embedding").alias("sigs")).persist()
    corpus_bands = sigs.select(
        "vec_id", F.posexplode("sigs").alias("band", "sig")
    )
    q_sigs = sigs.filter(F.col("vec_id") < n_queries)
    probe = q_sigs.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode("sigs").alias("band", "qsig"),
    )
    if multiprobe:
        # exact signature + all Hamming-1 flips of it
        flips = F.array(
            *([F.col("qsig")] + [
                F.col("qsig").bitwiseXOR(F.lit(1 << j))
                for j in range(rows_per_band)
            ])
        )
        probe = probe.select(
            "query_id", "band", F.explode(flips).alias("sig")
        )
    else:
        probe = probe.select("query_id", "band", F.col("qsig").alias("sig"))
    cands = (
        corpus_bands.join(F.broadcast(probe), ["band", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    vecs = embeddings.select("vec_id", "label", _dvec("embedding").alias("vec"))
    qvecs = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qvec")
    )
    scored = (
        cands.join(vecs, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            (
                dot_unrolled("qvec", "vec", dim)
                / (
                    F.sqrt(dot_unrolled("qvec", "qvec", dim))
                    * F.sqrt(dot_unrolled("vec", "vec", dim))
                )
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    bands: int = 32,
    rows_per_band: int = 10,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """ANN quality evaluator: per-query recall@k of the banded-LSH
    approximate top-k against the exact brute-force cosine top-k.

    Composes the two already-oracle-paired paths (`brute_force_topk`,
    `lsh_banded_topk`) and measures agreement: per query,
    n_hit = |approx ∩ exact| on vec_id, recall_at_k = n_hit / n_exact.
    Both constituent rankings are deterministic (shared literal planes,
    quantize-before-rank, (score DESC, vec_id) tie order), so the
    intersection -- and hence the recall surface -- is exact and
    oracle-paired, not a statistical estimate.

    Scale shape: both inputs are per-query top-k's (n_queries * k rows
    total), so everything past the two constituent plans is
    driver-trivial; the joins are broadcast-size by construction. This
    is the evaluator a 100 TB corpus build runs on a sampled query set
    to pick (bands, rows_per_band) before committing to an index sweep.
    Reference analog: the reference has no ANN evaluator; this is part
    of the training-data-pipeline extension surface (SURVEY.md section 2b).
    """
    exact = brute_force_topk(embeddings, n_queries=n_queries, k=k, dim=dim)
    approx = lsh_banded_topk(
        embeddings,
        n_queries=n_queries,
        k=k,
        bands=bands,
        rows_per_band=rows_per_band,
        dim=dim,
    )
    return _recall_at_k(exact, approx)


def _recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared recall@k tail for the evaluator family: per query,
    n_hit = |approx ∩ exact| on vec_id, recall = n_hit / n_exact.
    Inputs are per-query top-k's, so everything here is
    (n_queries x k)-sized -- driver-trivial at any corpus scale.

    Shape (r11): ONE full-outer join of the two marked top-k frames,
    then a single aggregation -- the earlier three-branch form
    (count exact / count approx / count intersection) referenced
    each constituent twice, and because the constituents' plans
    contain HOF lambdas Spark cannot canonicalize-reuse their
    exchanges, so each expensive top-k executed TWICE per evaluator
    run. The marked-join form executes each exactly once; the
    n_exact > 0 filter preserves the old left-join semantics (a
    query with approx-only rows -- impossible while both
    constituents emit the same query set -- was dropped before and
    still is)."""
    one = F.lit(1).cast("long")
    e = exact.select("query_id", "vec_id", one.alias("_e"))
    a = approx.select("query_id", "vec_id", one.alias("_a"))
    zero = F.lit(0).cast("long")
    both = e.join(a, ["query_id", "vec_id"], "full")
    return (
        both.groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_e", zero)).alias("n_exact"),
            F.sum(F.coalesce("_a", zero)).alias("n_approx"),
            F.sum(
                F.coalesce("_e", zero) * F.coalesce("_a", zero)
            ).alias("n_hit"),
        )
        .filter(F.col("n_exact") > 0)
        .select(
            "query_id",
            "n_exact",
            "n_approx",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact"), 6
            ).alias("recall_at_k"),
        )
    )


def ivf_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 2,
    kmeans_iterations: int = 3,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """IVF quality evaluator: per-query recall@k of multi-probe IVF
    against the exact cosine top-k -- the n_probe/n_lists trade-off
    surface an index sweep reads next to `ann_recall`'s banding one
    (faiss users plot exactly this curve before picking nprobe).

    Same exactness argument as `ann_recall`: both constituents
    (`brute_force_topk`, `ivf_topk` tuned -- oracle-paired since
    r6/r7) are deterministic rankings, so the intersection counts are
    exact, not estimates; everything past the constituent plans is
    (n_queries x k)-sized. Mirrored by `plans/llm_sql.ivf_recall_sql`."""
    exact = brute_force_topk(embeddings, n_queries=n_queries, k=k, dim=dim)
    approx = ivf_topk(
        embeddings,
        n_queries=n_queries,
        k=k,
        n_lists=n_lists,
        kmeans_iterations=kmeans_iterations,
        n_probe=n_probe,
    )
    return _recall_at_k(exact, approx)


def pq_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """PQ quality evaluator: per-query recall@k of product-quantization
    shortlist-then-rerank against the exact cosine top-k -- completes
    the evaluator family (banding: `ann_recall`; probe count:
    `ivf_recall`; code budget: this), so an index sweep can read all
    three accuracy/cost surfaces from the same oracle-paired shape.

    Same exactness argument as its siblings: both constituents
    (`brute_force_topk`, `pq_topk` -- oracle-paired since r7, with the
    bit-identical IEEE ADC sequence) are deterministic rankings, so
    the intersection counts are exact; everything past the
    constituent plans is (n_queries x k)-sized. Mirrored by
    `plans/llm_sql.pq_recall_sql`."""
    exact = brute_force_topk(embeddings, n_queries=n_queries, k=k, dim=dim)
    approx = pq_topk(
        embeddings,
        n_queries=n_queries,
        k=k,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        iterations=iterations,
        dim=dim,
    )
    return _recall_at_k(exact, approx)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    bands: int = DEFAULT_NEARDUP_BANDS,
    rows_per_band: int = DEFAULT_NEARDUP_ROWS,
    threshold: float = 0.5,
    dim: int = EMBEDDING_DIM,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded-LSH candidate
    generation + exact cosine verify.

    Candidates = pairs sharing ANY (band, sig) -- the band explode
    ships only (vec_id, band, sig); pairs are deduped before the
    vectors join back for verification, so the per-pair cosine runs
    once. Candidate budget and recall math in the
    DEFAULT_NEARDUP_BANDS comment. Mirrored exactly by the DuckDB
    oracle (same literal planes, same fold order)."""
    planes = gaussian_planes(bands * rows_per_band, dim, seed)

    # Signatures come from the Arrow-batched numpy kernel (~100x the
    # interpreted HOF fold). Oracle exactness is preserved because the
    # kernel's BLAS-batched signs are bit-identical to the oracle's
    # left-fold signs whenever no plane dot sits within float64 fold
    # noise of zero -- and the fixture's minimum |dot| is >= 3e-6, ten
    # orders above that, pinned by
    # tests/test_ann.py::test_sign_margin_blas_vs_fold_parity (the
    # same argument that oracle-paired the ANN prefilters in r5; the
    # local oracle suite would fail loudly if a future fixture broke
    # it). spread() fans the single-split scan across cores first.
    from ..tables import spread

    sig_udf = _band_sigs_udf(planes, bands, rows_per_band)

    def _build_sigs():
        base = spread(
            embeddings.select(
                "vec_id",
                _dvec("embedding").alias("vec"),
                sig_udf("embedding").alias("sigs"),
            ),
            embeddings.sparkSession,
        )
        return base.persist()

    # the signature table is the offline LSH index of the VECTOR
    # family -- build-once-probe-many across emb_neardup_pairs,
    # doc_semantic_neardup and doc_curation_full (same keying
    # discipline as the doc-side band index: app + input plan + knobs)
    sigs = plan_cached(
        embeddings, f"vecsigs:{bands}:{rows_per_band}:{seed}", _build_sigs
    )
    bands_df = sigs.select("vec_id", F.posexplode("sigs").alias("band", "sig"))
    # size-gated SHUFFLE_HASH (`physical.scale_hint`): the band
    # table and the vector tables are corpus-sized; their derived size
    # ESTIMATES read broadcast-small (same failure mode the 10x
    # fixture caught in the text family -- an auto-broadcast of a
    # corpus-sized side OOMs the driver); below the threshold the
    # Catalyst-planned broadcast is safe and faster
    n = corpus_count(embeddings)
    raw_pairs = bands_df.alias("a").join(
        scale_hint(bands_df.alias("b"), n),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    # r19 (guide 2.3 "narrower types", the jaccard packed-pair-key
    # recipe applied to this family's candidate dedup): past the
    # broadcast-safety gate the (vec_a, vec_b) distinct is the query's
    # dominant remaining exchange once the verify broadcasts (259 MB /
    # 30.2M rows at 10x). When the cached id-range probe proves every
    # vec_id fits unsigned 31 bits, the ORDERED pair (vec_a < vec_b by
    # the join condition) packs injectively into one long; the
    # distinct groups are identical and the unpack is the exact
    # inverse, cast back to the source id type. Fallback to the
    # two-column form on any other id type or range.
    if at_scale(n) and ids_packable(embeddings, sigs, "vec_id"):
        id_type = dict(bands_df.dtypes)["vec_id"]
        vec_a, vec_b = unpack_pair(F.col("_pk"), id_type)
        pairs = (
            raw_pairs.select(
                pack_pair(F.col("a.vec_id"), F.col("b.vec_id")).alias("_pk")
            )
            .distinct()
            .select(vec_a.alias("vec_a"), vec_b.alias("vec_b"))
        )
    else:
        pairs = raw_pairs.select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        ).distinct()
    va = sigs.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = sigs.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))

    # r19 (r18 verdict item 4; guide section 3.1 "broadcast the side
    # that fits", decided on TRUE bytes): the exact-cosine verify
    # attaches the vector table twice; past the broadcast-safety gate
    # it was hinted SHUFFLE_HASH because the table's size ESTIMATE is
    # array-blind -- but unlike the text family's shingle table, the
    # vec table's true serialized size needs NO measurement job at
    # all: every row is exactly (dim x 8 B vector + ~32 B row
    # overhead). When 2x that (both attachments resident per executor,
    # the r19 double-attach accounting) fits the family broadcast
    # budget, an explicit broadcast ships the vectors once per
    # executor and the candidate-pair intermediate never crosses a
    # verify exchange; past the budget (the 100 TB regime) the
    # memory-safe hint stands; below the safety gate plans stay
    # Catalyst-planned and bit-identical.
    def vec_bytes():
        return n * (dim * 8 + 32)

    return (
        pairs.join(attach(va, n, vec_bytes, scale_hint), "vec_a")
        .join(attach(vb, n, vec_bytes, scale_hint), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


@lru_cache(maxsize=4)
def cross_encoder_weights(dim: int = EMBEDDING_DIM, seed: int = 42) -> tuple:
    """The default re-rank scorer's bilinear weight matrix W
    (dim x dim, seeded standard normal / dim) as nested tuples --
    same sharing discipline as `gaussian_planes`: the engine kernel
    closes over these EXACT float64 values and the oracle
    (plans/llm_sql.rerank_topk_sql) embeds their reprs as literals,
    so both engines evaluate the same fixed function."""
    import numpy as np

    W = np.random.RandomState(seed).standard_normal((dim, dim)) / dim
    return tuple(tuple(float(x) for x in row) for row in W)


def _cross_encoder_udf(dim: int, seed: int, model_stub: bool):
    """Pairwise 'cross-encoder' scoring kernel (the re-rank model
    slot). Stub = sigmoid of a seeded random bilinear form q.W.c --
    deterministic, Arrow-vectorized, and exercises the learned-
    interaction shape (the score is NOT a function of the two vectors'
    cosine alone). ``model_stub=False`` raises where a real ONNX /
    torch cross-encoder forward pass plugs in. Self-contained closure
    (workers lack the repo PYTHONPATH); W ships by value so the
    worker uses the same literals the oracle embeds."""
    from pyspark.sql.functions import pandas_udf

    W_rows = [list(r) for r in cross_encoder_weights(dim, seed)]

    @pandas_udf("double")
    def score(qvec: pd.Series, cvec: pd.Series) -> pd.Series:
        import numpy as np

        if not model_stub:
            raise NotImplementedError(
                "no cross-encoder model in this container; pass model_stub=True"
            )
        W = np.array(W_rows, dtype=np.float64)
        Q = np.array([np.asarray(v, dtype=np.float64) for v in qvec])
        C = np.array([np.asarray(v, dtype=np.float64) for v in cvec])
        z = np.einsum("bi,ij,bj->b", Q, W, C)
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    return score


def cross_encoder_rerank(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_bits: int = DEFAULT_SIG_BITS,
    radius: int = DEFAULT_HAMMING_RADIUS,
    dim: int = EMBEDDING_DIM,
    seed: int = 42,
    model_stub: bool = True,
) -> DataFrame:
    """Two-stage retrieve-then-rerank (the RAG serving pattern):
    Hamming-radius ANN retrieval bounds the candidate set (~12% of the
    corpus, see simhash_hamming_topk), then the cross-encoder kernel
    scores only those pairs and a per-query window keeps the top k.

    At 100 TB the expensive model forward pass is the cost driver --
    this plan runs it on |queries| x ~N/8 pairs instead of |queries| x
    N, and the kernel is Arrow-batched so a GPU-backed scorer slots in
    without plan changes.

    Oracle pairing (r8, r7 verdict item 6): the DEFAULT scorer is a
    deterministic bilinear kernel over `cross_encoder_weights` -- a
    fixed function of literals both engines share, exactly like the
    plane-literal ANN pairings -- so the default config is
    hash-checked against `plans/llm_sql.rerank_topk_sql`. Ranking is
    over the ROUNDED score (round 6, ties to lowest vec_id): the
    6-decimal quantization absorbs the ~1e-14 einsum-vs-SQL-fold
    reassociation noise, and the rounding-boundary margin on the
    fixture is pinned by tests/test_ann.py
    (test_rerank_rounding_margins). The injectable-model path
    (``model_stub=False``) remains rows-only by nature."""
    score = _cross_encoder_udf(dim, seed, model_stub)
    scored = hamming_candidates(
        embeddings, n_queries, n_bits, radius, dim, seed
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.round(score(F.col("qvec"), F.col("vec")), 6).alias("rerank_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", "rerank_score")
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization -- the embedding-
    compression step ANN serving applies before indexing (4x memory
    cut; integer-SIMD dot products): scale = max|x| / 127,
    q_i = bround(x_i / scale) (banker's rounding = DuckDB round_even,
    identical at .5).

    Returns scalar stats instead of the raw int8 array so the driver
    hash stays scalar-typed: the exact-integer checksum
    q_l1 = sum|q_i|, plus max/mean absolute reconstruction error
    (ordered folds -- bit-stable in both engines).

    Shape: pure map stage, no shuffle. amax/scale are materialized as
    their own projection BEFORE the per-element lambdas reference
    them -- higher-order functions are CodegenFallback, so an inlined
    amax would be re-evaluated once per element (the minhash
    two-stage-projection lesson, dedup.py:80).
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = embeddings.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.array_max(F.transform("v", lambda x: F.abs(x))).alias("amax"),
    )
    scale = (F.col("amax") / F.lit(127.0)).alias("scale")
    qv = F.when(
        F.col("scale") > 0,
        F.transform("v", lambda x: F.bround(x / F.col("scale")).cast("int")),
    ).otherwise(F.transform("v", lambda x: F.lit(0)))
    staged = staged.select("vec_id", "v", scale).select(
        "vec_id", "v", "scale", qv.alias("qv")
    )
    err = F.zip_with("v", "qv", lambda x, q: F.abs(x - q * F.col("scale")))
    staged = staged.select("vec_id", "scale", "qv", err.alias("err"))
    q_l1 = F.aggregate(
        F.transform("qv", lambda q: F.abs(q).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_err = F.aggregate(
        F.col("err"), F.lit(0.0), lambda a, e: a + e
    ) / F.size("err").cast("double")
    return staged.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        q_l1.alias("q_l1"),
        F.round(F.array_max("err"), 6).alias("max_abs_err"),
        F.round(mean_err, 6).alias("mean_abs_err"),
    )


def _normalize(v: Column) -> Column:
    """Unit-normalize so squared L2 = 2 - 2*cos: PQ's L2 codebooks
    then rank identically to cosine and recall is comparable with the
    other ANN paths."""
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    return F.transform(v, lambda x: x / norm)


def pq_encode(
    embeddings: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    dim: int = EMBEDDING_DIM,
):
    """Product-quantization codec: split each unit-normalized vector
    into ``n_subspaces`` sub-vectors and k-means each subspace to
    ``n_codes`` centroids (Lloyd, deterministic init = first vectors
    by vec_id, ties to the lowest code). Returns (encoded_df,
    codebooks): encoded_df carries vec_id, label, the unit vector and
    an ``codes`` array<int> of length n_subspaces; codebooks is the
    n_subspaces x n_codes x d_sub nested list.

    Scale shape: training touches the corpus only through per-subspace
    assignment projections and a posexplode mean aggregation; ONLY the
    codebooks (n_subspaces * n_codes * d_sub doubles -- KBs) ever
    reach the driver. Encoded vectors cost n_subspaces bytes-ish per
    row vs dim * 8 raw: the RAM-bound billion-vector regime's codec.

    Param contract (r7 advice): ``dim`` must divide evenly into
    ``n_subspaces`` (asserted -- a ragged split would silently drop
    the tail dimensions engine-side while the oracle's slice SQL kept
    them), and the oracle pairing additionally assumes the corpus has
    at least ``n_codes`` rows (the engine shrinks the codebook on a
    tiny corpus; `plans/llm_sql.pq_topk_sql` does not)."""
    if dim % n_subspaces != 0:
        raise ValueError(
            f"pq_encode: dim {dim} not divisible by n_subspaces {n_subspaces}"
        )
    d_sub = dim // n_subspaces
    vecs = embeddings.select(
        "vec_id", "label", _normalize(_dvec(F.col("embedding"))).alias("v")
    ).persist()

    def sub_col(s: int) -> Column:
        return F.slice(F.col("v"), s * d_sub + 1, d_sub)

    def assign_col(cents: list[list[float]], sub: Column) -> Column:
        return _pq_assign_col(cents, sub)

    # seed = first n_codes rows by vec_id -- limit(), NOT a
    # `vec_id < n_codes` filter, so sparse / non-0-based id spaces
    # still seed correctly; with fewer vectors than codes the
    # codebook shrinks to the corpus size (every later codebooks[s][c]
    # fallback indexes within range)
    seed_rows = vecs.orderBy("vec_id").limit(n_codes).collect()
    if not seed_rows:
        raise ValueError("pq_encode: empty embeddings input")
    n_codes = min(n_codes, len(seed_rows))
    codebooks = [
        [list(r["v"])[s * d_sub : (s + 1) * d_sub] for r in seed_rows]
        for s in range(n_subspaces)
    ]
    # ONE Spark job per Lloyd iteration, not one per (iteration,
    # subspace): subspaces train independently (no cross-subspace
    # term in Lloyd), so all assignments against the CURRENT
    # codebooks explode into a single (s, code, sub) frame whose
    # grouped means update every codebook at once. Bit-identical to
    # the old per-subspace loop (same assignments, same groups, same
    # sorted-fold means -- the oracle's unrolled CTEs still match),
    # but 8x fewer driver-coordinated jobs: measured 12.5 -> ~4 s of
    # the sf0.1 pq_topk wall, and at cluster scale each saved job is
    # a full scheduling + scan round trip.
    for _ in range(iterations):
        sub_structs = [
            F.struct(
                F.lit(s).alias("s"),
                assign_col(codebooks[s], sub_col(s)).alias("code"),
                sub_col(s).alias("sub"),
            )
            for s in range(n_subspaces)
        ]
        exploded = vecs.select(
            F.explode(F.array(*sub_structs)).alias("a")
        ).select("a.s", "a.code", "a.sub")
        # deterministic mean: sorted-order fold, NOT F.avg -- a
        # plain avg sums in partition order, so the codebooks (and
        # with them recall) would drift with the input partitioning
        means = (
            exploded.select("s", "code", F.posexplode("sub").alias("pos", "x"))
            .groupBy("s", "code", "pos")
            .agg(
                (
                    F.aggregate(
                        F.array_sort(F.collect_list("x")),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    / F.count("x")
                ).alias("m")
            )
            .collect()
        )
        by_sub: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            by_sub.setdefault(r["s"], {}).setdefault(r["code"], {})[
                r["pos"]
            ] = r["m"]
        for s in range(n_subspaces):
            by_code = by_sub.get(s, {})
            codebooks[s] = [
                [by_code[c][p] for p in range(d_sub)]
                if c in by_code
                else codebooks[s][c]
                for c in range(n_codes)
            ]
    encoded = vecs.select(
        "vec_id",
        "label",
        "v",
        F.array(
            *[assign_col(codebooks[s], sub_col(s)) for s in range(n_subspaces)]
        ).alias("codes"),
    )
    return encoded, codebooks


def _pq_assign_col(cents: list[list[float]], sub: Column) -> Column:
    """Nearest-centroid code for one sub-vector column under one
    subspace's centroid list: squared-L2 distances to every centroid
    baked as literals (the codebooks are driver-held KBs), ties to
    the LOWEST code via array_position-of-min. Defined ONCE at module
    level: `pq_encode` assigns with it during training and for the
    final encode, and `pq_code_col` (the frozen-model delta encoder
    behind `streaming.llm_ingest.append_dense_index`) reuses it -- so an
    appended vector's codes are bit-identical to what a rebuild under
    the SAME codebooks would assign, by shared code rather than by
    re-derivation."""
    cent_arr = F.expr(
        "array(%s)"
        % ", ".join(
            "array(%s)" % ", ".join(repr(x) for x in c) for c in cents
        )
    )
    dists = F.transform(
        cent_arr,
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_code_col(codebooks: list[list[list[float]]]) -> Column:
    """codes array<int> for a unit-vector column ``v`` under FROZEN
    codebooks -- the standard faiss add-with-trained-index encode:
    given the model, a vector's codes are per-row facts, so a corpus
    delta encoded with this column appends EXACTLY (append-then-probe
    == same-model-rebuild-then-probe). Assignment arithmetic is
    `_pq_assign_col`, shared verbatim with `pq_encode`."""
    d_sub = len(codebooks[0][0])
    return F.array(
        *[
            _pq_assign_col(
                codebooks[s], F.slice(F.col("v"), s * d_sub + 1, d_sub)
            )
            for s in range(len(codebooks))
        ]
    )


def pq_lut(qv: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Per-query ADC lookup table: lut[s][c] = squared distance of the
    query's s-th sub-vector to codebook centroid c -- Python-float
    arithmetic in left-to-right order, defined ONCE and shared by the
    batch `pq_topk` (as literals) and the streaming `dense_topk_batches`
    (as broadcast rows), so the two paths' ADC scores are bit-equal
    by construction."""
    d_sub = len(codebooks[0][0])
    return [
        [
            sum(
                (a - b) * (a - b)
                for a, b in zip(qv[s * d_sub : (s + 1) * d_sub], c)
            )
            for c in codebooks[s]
        ]
        for s in range(len(codebooks))
    ]


def pq_adc_dist(lut_col: Column, codes_col: Column, n_subspaces: int) -> Column:
    """ADC distance of one coded vector under one query's LUT: the
    n_subspaces table lookups summed in WRITTEN subspace order (the
    left-associated add chain both `pq_topk`'s literal form and the
    streaming broadcast form must share for bit-equality)."""
    dist = None
    for s in range(n_subspaces):
        term = F.element_at(
            F.element_at(lut_col, s + 1),
            F.element_at(codes_col, s + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return dist


def pq_shortlist_rerank(
    scored: DataFrame, k: int, shortlist: int, vecs: DataFrame | None = None
) -> DataFrame:
    """The PQ serving tail shared by batch and stream: per-query ADC
    shortlist ((_adc ASC, vec_id) ties), exact re-rank of the
    shortlist by dot on unit vectors rounded to 6 ((cos_sim DESC,
    vec_id) ties), top-k. scored must carry (query_id, vec_id, label,
    _adc, _qv) plus ``v`` -- either inline (vecs=None, the batch path,
    where the encoded frame already holds the float vector) or joined
    AFTER the shortlist from ``vecs`` (vec_id, v) -- the streaming
    artifact split, so only the shortlist's floats are ever read (the
    PQ RAM story: codes scan everything, vectors serve the tail)."""
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("vec_id")
    )
    cands = scored.withColumn("_r", F.row_number().over(w_short)).filter(
        F.col("_r") <= max(shortlist, k)
    )
    if vecs is not None:
        cands = cands.join(vecs, "vec_id")
    rescored = cands.select(
        "query_id",
        "vec_id",
        "label",
        F.round(dot(F.col("_qv"), F.col("v")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "rank", "cos_sim")
    )


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    shortlist: int | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Product-quantization ANN, shortlist-then-rerank: corpus vectors
    live as n_subspaces codes; each query precomputes a tiny lookup
    table of squared distances to every per-subspace centroid
    (n_subspaces x n_codes doubles, driver-side from the codebooks)
    and scores every candidate as the SUM of table entries picked by
    its codes -- no float vector is touched in the scan. The ADC
    ``shortlist`` (the only rows whose real vectors are read) is then
    re-ranked by exact cosine, the standard PQ serving pattern:
    codebook quantization alone ranks coarsely (measured recall@5
    0.28 on the fixture), ADC shortlist + exact re-rank recovers it
    while touching ~shortlist/corpus of the floats. Default shortlist
    = corpus/8 (one count on the cached index -- "the index knows its
    size"), the same 1/8 candidate budget the Hamming path is
    measured at. Fixture sweep (500 vectors, k=5): shortlist 40 ->
    0.76, 64 -> 0.84, 96 -> 0.88; n_codes 16 vs 32 indistinguishable
    (near-random embeddings). The Hamming path buys 0.96 at the same
    1/8 budget but spends 32 B/vector on signatures; PQ's 8 B/vector
    codes are the tighter RAM fit -- that is the measured tradeoff.
    Codebook training uses sorted-fold means, so codebooks (and
    recall) are invariant to input partitioning.

    The LUT rides into the plan as one parsed literal per query; the
    ADC scan is a map stage (n_subspaces element_at lookups + an add
    chain per row) + a per-query top-shortlist window. Approximate ->
    rows-only driver check; recall pinned in tests/test_ann.py. At
    billion-vector scale the codes are the in-RAM index (8 B/vector
    vs 512 B raw); only the shortlist hits the float store."""
    d_sub = dim // n_subspaces
    encoded, codebooks = pq_encode(
        embeddings, n_subspaces, n_codes, iterations, dim
    )
    encoded = encoded.persist()
    if shortlist is None:
        shortlist = max(8 * k, encoded.count() // 8)
    queries = {
        r["vec_id"]: list(r["v"])
        for r in encoded.orderBy("vec_id").limit(n_queries).collect()
    }

    def lut_expr(qv: list[float]) -> Column:
        return F.expr(
            "array(%s)"
            % ", ".join(
                "array(%s)" % ", ".join(repr(x) for x in row)
                for row in pq_lut(qv, codebooks)
            )
        )

    def qvec_expr(qv: list[float]) -> Column:
        return F.expr("array(%s)" % ", ".join(repr(x) for x in qv))

    branches = []
    for qid, qv in sorted(queries.items()):
        branches.append(
            encoded.filter(F.col("vec_id") != qid).select(
                F.lit(qid).alias("query_id"),
                "vec_id",
                "label",
                "v",
                pq_adc_dist(
                    lut_expr(qv), F.col("codes"), n_subspaces
                ).alias("_adc"),
                qvec_expr(qv).alias("_qv"),
            )
        )
    scored = branches[0]
    for b in branches[1:]:
        scored = scored.unionByName(b)
    # shortlist + exact re-rank on unit vectors (cosine == dot):
    # shared tail with the streaming dense_topk_batches
    return pq_shortlist_rerank(scored, k, shortlist)


def source_micro_means(embs_sourced: DataFrame) -> DataFrame:
    """(source, pos, n_vecs, _mu): per-(source, dimension) centroid in
    integer MICRO-units -- the exact-arithmetic building block shared
    by `source_drift` (batch pairwise) and the streaming drift probe
    (`streaming/llm_ingest.write_drift_baseline` /
    `drift_verdict_batches`). Components quantize to DECIMAL(20,10)
    before summation (associative), the mean quantizes to
    round(sum/n * 1e6) as int64 -- see `source_drift` for the
    cross-engine determinism argument. Input needs (source,
    embedding) columns."""
    return (
        embs_sourced.select(
            "source", F.posexplode("embedding").alias("pos", "_v")
        )
        .select(
            "source",
            "pos",
            F.col("_v").cast("double").cast("decimal(20,10)").alias("_vd"),
        )
        .groupBy("source", "pos")
        .agg(F.sum("_vd").alias("_sum"), F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "source",
            "pos",
            "n_vecs",
            F.round(
                F.col("_sum").cast("double")
                / F.col("n_vecs").cast("double")
                * 1_000_000
            )
            .cast("long")
            .alias("_mu"),
        )
    )


def source_drift(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Embedding-distribution drift between corpus sources (r12): the
    pairwise squared L2 distance between per-source embedding
    centroids -- the monitoring number that catches one crawl/source
    shifting distribution before it skews training (the corpus-level
    sibling of `semantic_neardup`'s per-doc verdicts).

    Exactness (README determinism discipline, the `label_centroids` +
    `minhash_calibration` composition): components quantize to
    DECIMAL(20,10) BEFORE summation (decimal addition is associative,
    so aggregation order cannot matter); each per-(source, pos) MEAN
    then quantizes to integer MICRO-units (round(sum/n * 1e6) --
    both engines round the same double to the same integer unless the
    true mean lands exactly on half a micro-unit, which for
    float32-origin data does not occur and the oracle would catch
    loudly); the 64-dim squared distance is a SUM OF EXACT INT64
    SQUARES (max |diff| ~ 1e7 -> sum <= ~6.4e15, far under 2^63), so
    no float reassociation exists anywhere. The reported drift is one
    IEEE division by 1e12 at the end.

    At scale: one (source, pos) exchange with map-side partial sums
    over the exploded components; the means table is sources x dim
    (catalog-sized), so the pairwise self-join is a broadcast of a
    tiny frame -- quadratic only in the number of SOURCES, never in
    vectors.
    """
    src = docs.select(F.col("doc_id").alias("vec_id"), "source")
    mu = source_micro_means(embeddings.join(src, "vec_id"))
    a = mu.select(
        F.col("source").alias("source_a"),
        "pos",
        F.col("n_vecs").alias("_na"),
        F.col("_mu").alias("_ma"),
    )
    b = mu.select(
        F.col("source").alias("source_b"),
        "pos",
        F.col("n_vecs").alias("_nb"),
        F.col("_mu").alias("_mb"),
    )
    d = F.col("_ma") - F.col("_mb")
    return (
        a.join(b, "pos")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.sum(d * d).alias("_l2_micro2"),
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            (F.col("_l2_micro2").cast("double") / F.lit(1e12)).alias(
                "drift_l2sq"
            ),
        )
    )


# reciprocal-rank-fusion constant (the standard k=60 from Cormack et
# al.'s RRF) and the hybrid query's list sizes; single source of truth
# shared with the generated oracle (plans/llm_sql.hybrid_rrf_sql -- the
# PACKING_SEQ_LENS lock-step pattern)
RRF_K = 60
HYBRID_FUSION_K = 20
HYBRID_TOP_K = 10


def _rrf_score_sql() -> str:
    """The fusion expression over columns lex_rank / cos_rank -- plain
    SQL arithmetic parsed identically by Spark and DuckDB and shared
    VERBATIM by both sides (the _bm25_score_sql discipline): two exact
    integer-plus-constant reciprocals added in a fixed written order,
    so the IEEE result is bit-identical across engines. A rank missing
    from one list contributes exactly 0.0 (NULL arithmetic ->
    COALESCE), the standard RRF treatment of out-of-list documents."""
    k = repr(float(RRF_K))
    return (
        f"COALESCE(1.0 / ({k} + CAST(lex_rank AS DOUBLE)), 0.0)"
        f" + COALESCE(1.0 / ({k} + CAST(cos_rank AS DOUBLE)), 0.0)"
    )


def lex_ranked(docs: DataFrame, fusion_k: int = HYBRID_FUSION_K) -> DataFrame:
    """The hybrid query's lexical list: BM25 top-k re-expressed as
    (doc_id, lex_rank) with the parity-critical tie order
    (score DESC, doc_id). Defined ONCE -- the batch single-query form,
    the multi-query form and the streaming twin (which collects this
    k-row frame into its per-batch literal) all rank through here, so
    the tie-break can never desynchronize the pinned parities. The
    rank window runs over the already k-limited BM25 list -- bounded
    by construction; the constant partition key (doc_id & 0, the
    vocab_coverage idiom that survives the optimizer) declares that
    explicitly so the executed plan never emits the "No Partition
    Defined" warning that misreads as an unbounded single-partition
    sort at scale (r13 verdict item 4)."""
    from .text import bm25_topk

    return bm25_topk(docs, top_k=fusion_k).select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(
                F.col("doc_id").bitwiseAND(F.lit(0))
            ).orderBy(F.col("score").desc(), F.col("doc_id"))
        )
        .alias("lex_rank"),
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    fusion_k: int = HYBRID_FUSION_K,
    top_k: int = HYBRID_TOP_K,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Hybrid lexical+dense retrieval by reciprocal-rank fusion: the
    standard RAG-serving composition of the registry's two retrieval
    families. The lexical list is BM25 over the fixed keyword query
    (text.bm25_topk); the dense list is cosine to document 0's
    embedding (the vec_id == doc_id identification semantic_neardup
    established); each document scores
    sum(1 / (60 + rank)) over the lists it appears in, and the top-k
    fused documents are returned with both provenance ranks.

    Rank-based fusion is what makes the hybrid cross-engine exact
    where score-based mixing could never be: ranks are integers (both
    constituents hash-match bit-exact, so their orderings agree), and
    the fusion arithmetic is the shared _rrf_score_sql fragment.

    At scale: both constituents end in k-sized lists (BM25 is
    map-only + TakeOrderedAndProject; the dense side is the
    brute-force baseline here -- swap in lsh_banded_topk/ivf_topk for
    a production corpus, the fusion is agnostic to how the list was
    produced). Everything past them -- the rank windows, the FULL
    OUTER join on doc_id, the final top-k -- operates on <= 2*k rows:
    the single-partition rank windows are bounded by construction,
    same class as shard_packing's renumber."""
    lex = lex_ranked(docs, fusion_k)
    dense = brute_force_topk(
        embeddings, n_queries=1, k=fusion_k, dim=dim
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("cos_rank"))
    return (
        lex.join(dense, "doc_id", "full_outer")
        .withColumn("rrf_score", F.expr(_rrf_score_sql()))
        .select("doc_id", "lex_rank", "cos_rank", "rrf_score")
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(top_k)
    )


def hybrid_rrf_topk_per_query(
    docs: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 5,
    fusion_k: int = HYBRID_FUSION_K,
    top_k: int = HYBRID_TOP_K,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """The multi-query form of `hybrid_rrf_topk`: one fused top-k
    list PER query vector (query_id column added). The lexical list
    is query-independent (the fixed keyword query) so it is computed
    once and re-keyed per query via a cross join against the QUERY
    side's tiny id set (vec_id < n_queries -- never the dense result
    set, whose empty-dense queries would vanish; r13 ADVICE); fusion
    rules are identical
    (same _rrf_score_sql fragment, same tie-breaks). Restricted to
    query 0 this equals `hybrid_rrf_topk` row-for-row (pinned in
    tests) -- the parity target for the streaming serving twin
    `llm_ingest.hybrid_rrf_batches`."""
    lex = lex_ranked(docs, fusion_k)
    dense = brute_force_topk(
        embeddings, n_queries=n_queries, k=fusion_k, dim=dim
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("cos_rank"),
    )
    # qids come from the QUERY side, not the dense result set: a query
    # whose dense list is empty (degenerate corpus after
    # self-exclusion) must still get its lexical-only rows, exactly as
    # the streaming twin keys the lexical list off the arriving batch
    # (r13 ADVICE -- deriving from `dense` diverged the parity pair on
    # that edge).
    qids = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id")
    )
    lex_per_q = qids.crossJoin(F.broadcast(lex))
    fused = lex_per_q.join(dense, ["query_id", "doc_id"], "full_outer")
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rrf_score", F.expr(_rrf_score_sql()))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_k)
        .select("query_id", "doc_id", "lex_rank", "cos_rank", "rrf_score")
    )


# matryoshka truncation budgets evaluated by matryoshka_recall; single
# source of truth shared with the generated oracle
# (plans/llm_sql.matryoshka_recall_sql -- the PACKING_SEQ_LENS
# lock-step pattern). 8/16/32 against the 64-wide fixture spans the
# degraded-to-nearly-exact range so the recall surface discriminates.
MATRYOSHKA_TRUNC_DIMS = (8, 16, 32)


def _ladder_recall(
    embeddings: DataFrame,
    label_col: str,
    rungs,
    n_queries: int,
    k: int,
    dim: int,
) -> DataFrame:
    """Shared skeleton for the ladder evaluators (width, precision,
    any future axis): the float exact top-k computes ONCE and
    persists (the tail joins reference it per rung and HOF-lambda
    plans defeat exchange reuse -- the r11 evaluator lesson), then
    each (value, variant_corpus, variant_dim) rung contributes one
    labeled (n_queries x k)-sized recall tail, unioned by name. An
    empty ladder fails HERE at plan-build time (r13 ADVICE): deferring
    it would surface as an opaque AttributeError on the caller's next
    DataFrame op and leave the persisted exact constituent cached with
    no consumer -- the oracle side's rung guards are equally loud."""
    rungs = list(rungs)
    if not rungs:
        raise ValueError(
            "ladder evaluator needs at least one rung (got an empty "
            "ladder, e.g. trunc_dims=() / n_bits=())"
        )
    exact = brute_force_topk(
        embeddings, n_queries=n_queries, k=k, dim=dim
    ).persist()
    out = None
    for value, variant, variant_dim in rungs:
        approx = brute_force_topk(
            variant, n_queries=n_queries, k=k, dim=variant_dim
        )
        tail = _recall_at_k(exact, approx).select(
            F.lit(int(value)).alias(label_col),
            "query_id",
            "n_exact",
            "n_approx",
            "n_hit",
            "recall_at_k",
        )
        out = tail if out is None else out.unionByName(tail)
    return out


def matryoshka_recall(
    embeddings: DataFrame,
    trunc_dims: tuple[int, ...] = MATRYOSHKA_TRUNC_DIMS,
    n_queries: int = 5,
    k: int = 10,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Matryoshka / truncation-budget evaluator: per-query recall@k of
    cosine ranking over the FIRST d dimensions against the full-width
    exact ranking, for each candidate truncation d -- the
    dimension-budget surface read before shipping truncated embeddings
    (matryoshka-style serving stores prefixes; this is the number that
    says which prefix is safe). Completes the ANN evaluator family's
    third axis: banding recall (index params), probe/code recall
    (search params), truncation recall (representation width).

    Both sides are the SAME deterministic brute-force plan
    (`brute_force_topk`): the truncated ranking just slices the array
    before the fold, so exactness inherits -- no estimate anywhere,
    and the oracle mirrors the slice with DuckDB list slicing. The
    full-width exact top-k is computed ONCE and persisted: the tail
    joins reference it per truncation and HOF-lambda plans defeat
    exchange reuse (the r11 evaluator lesson), so without the persist
    the most expensive constituent would execute len(trunc_dims)
    times. Everything past the constituents is (n_queries x k)-sized
    per truncation."""
    rungs = [
        (
            int(d),
            embeddings.withColumn(
                "embedding", F.slice(F.col("embedding"), 1, int(d))
            ),
            int(d),
        )
        for d in trunc_dims
    ]
    return _ladder_recall(embeddings, "trunc_dim", rungs, n_queries, k, dim)


# precision ladder evaluated by quant_recall: symmetric signed codes at
# 2/4/8 bits (max code 1/7/127); single source of truth shared with the
# generated oracle (plans/llm_sql.quant_recall_sql -- the
# PACKING_SEQ_LENS lock-step pattern). 8-bit is near-lossless on the
# fixture; 2-bit provably is not, so the surface discriminates (the
# vacuous-oracle discipline).
QUANT_RECALL_BITS = (2, 4, 8)


def _quant_code_vectors(embeddings: DataFrame, max_code: int) -> DataFrame:
    """The corpus re-expressed as its symmetric quantized CODE vectors
    (scale = amax/max_code, banker's rounding like `quantize_int8`),
    codes carried as doubles for the fold. Cosine is invariant to any
    per-vector positive scalar, so ranking by cosine over the code
    vectors IS ranking over the dequantized reconstructions -- no
    dequantize pass needed, and every dot term is a product of
    integers <= max_code in magnitude (exact in double). scale is
    materialized in its own projection before the per-element lambda
    references it (HOFs are CodegenFallback -- the quantize_int8
    two-stage discipline). Columns beyond (vec_id, label, embedding)
    pass through untouched, so a partition key can ride along without
    a corpus-sized re-join (the IVF x quant writer; r16 review)."""
    extra = [
        c for c in embeddings.columns
        if c not in ("vec_id", "label", "embedding")
    ]
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = embeddings.select(
        "vec_id", "label", *extra, v.alias("v")
    ).select(
        "vec_id",
        "label",
        *extra,
        "v",
        F.array_max(F.transform("v", lambda x: F.abs(x))).alias("amax"),
    )
    staged = staged.select(
        "vec_id",
        "label",
        *extra,
        "v",
        (F.col("amax") / F.lit(float(max_code))).alias("scale"),
    )
    qv = F.when(
        F.col("scale") > 0,
        F.transform(
            "v", lambda x: F.bround(x / F.col("scale")).cast("double")
        ),
    ).otherwise(F.transform("v", lambda x: F.lit(0.0)))
    return staged.select("vec_id", "label", *extra, qv.alias("embedding"))


def quant_recall(
    embeddings: DataFrame,
    bits_ladder: tuple[int, ...] = QUANT_RECALL_BITS,
    n_queries: int = 5,
    k: int = 10,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Quantization-recall evaluator: per-query recall@k of cosine
    ranking over symmetric b-bit codes against the float exact
    ranking, for each candidate precision -- the number that says
    which memory cut (`quantize_int8`'s 4x at b=8, 16x at b=2) is
    free for retrieval, closing the loop that evaluator opened (it
    reports reconstruction error; this reports the retrieval
    consequence). Fourth axis of the ANN evaluator family: banding,
    search, width (matryoshka), now precision.

    Exactness inherits as everywhere in the family: code vectors are
    deterministic (banker's rounding, oracle round_even), integer dot
    terms are exact in double, ties break on vec_id. The float exact
    top-k persists once (the r11 HOF-exchange-reuse lesson), then one
    k-sized tail per precision."""
    rungs = [
        (
            int(b),
            _quant_code_vectors(embeddings, (1 << (int(b) - 1)) - 1),
            dim,
        )
        for b in bits_ladder
    ]
    return _ladder_recall(embeddings, "bits", rungs, n_queries, k, dim)
