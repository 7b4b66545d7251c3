"""ANN quality gates: recall@k vs brute force and candidate-budget
assertions for the Hamming-radius and banded-LSH paths, plus banded
near-dup recall vs exact all-pairs.

Run at sf0.1 (N=2000) -- the scale the round bench uses -- so the
asserted numbers are the ones quoted in llmdata/similarity.py's
parameter table. Floors sit below the measured values by a margin
(the planes are seeded, so runs are deterministic; the margin guards
parameter edits, not noise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_streaming_dashboard_spark.llmdata.similarity import (
    ann_recall,
    brute_force_topk,
    embedding_neardup_pairs,
    hamming_candidates,
    lsh_banded_topk,
    simhash_hamming_topk,
)
from big_data_streaming_dashboard_spark.tables import load_table

SF = "/root/testdata/sf0.1"
N_QUERIES = 5
K = 10


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def _recall(exact_rows, approx_rows):
    exact, approx = _topk_sets(exact_rows), _topk_sets(approx_rows)
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    return sum(recalls) / len(recalls)


def test_hamming_topk_recall_and_candidate_budget(spark):
    """The verdict gate: recall >= 0.9 at sf0.1 with candidate set
    <= corpus/8. Measured 0.96 recall @ 0.119 candidate fraction."""
    embs = load_table(spark, SF, "embeddings")
    n = embs.count()
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    approx = simhash_hamming_topk(embs, n_queries=N_QUERIES, k=K).collect()
    assert _recall(exact, approx) >= 0.9
    # candidate budget: survivors of the radius prefilter are all the
    # exact re-rank ever pays for
    n_cands = hamming_candidates(embs, n_queries=N_QUERIES).count()
    assert n_cands <= N_QUERIES * n / 8, (n_cands, n)
    # exact-scored survivors carry true cosine: wherever approx and
    # exact overlap the similarity is identical
    exact_cos = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_cos:
            assert abs(r["cos_sim"] - exact_cos[key]) < 1e-9


def test_banded_topk_recall(spark):
    """Banded equi-join + multiprobe path: measured 0.83 recall at
    32 bands x 10 bits on the weakly-separated fixture; floor 0.7."""
    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    approx = lsh_banded_topk(embs, n_queries=N_QUERIES, k=K).collect()
    assert _recall(exact, approx) >= 0.7


def test_ann_recall_matches_independent_computation(spark):
    """The r10 evaluator query must agree with this file's own
    (collect-side, set-based) recall computation -- two independent
    implementations of recall@k over the same two rankings."""
    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    approx = lsh_banded_topk(embs, n_queries=N_QUERIES, k=K).collect()
    expected = _recall(exact, approx)
    rows = ann_recall(embs, n_queries=N_QUERIES, k=K).collect()
    assert len(rows) == N_QUERIES
    got = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert abs(got - expected) < 1e-6, (got, expected)
    for r in rows:
        assert r["n_exact"] == K
        assert 0 <= r["n_hit"] <= min(r["n_exact"], r["n_approx"])


def test_hamming_topk_deterministic(spark):
    embs = load_table(spark, SF, "embeddings")
    a = sorted(map(tuple, simhash_hamming_topk(embs).collect()))
    b = sorted(map(tuple, simhash_hamming_topk(embs).collect()))
    assert a == b


def test_neardup_banded_recall_vs_exact(spark):
    """Banded candidate generation vs exact all-pairs at threshold
    0.5. The fixture's 'near-dups' sit at cos 0.5-0.6 (p ~ 0.69), the
    flattest part of the banding S-curve -- predicted recall ~0.79
    with 32 bands x 8 bits; real duplicates (cos >= 0.85) are caught
    w.p. ~1. Precision is exact by construction (verify step)."""
    embs = load_table(spark, SF, "embeddings")
    dv = embs.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    a = dv.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = dv.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    from big_data_streaming_dashboard_spark.llmdata.similarity import cosine

    exact_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.5)
        .collect()
    }
    got = embedding_neardup_pairs(embs).collect()
    got_pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    assert got_pairs <= exact_pairs  # precision 1.0: verify is exact
    assert exact_pairs, "fixture lost its near-dup pairs"
    recall = len(got_pairs) / len(exact_pairs)
    assert recall >= 0.5, (recall, len(exact_pairs))


def test_emb_neardup_vec_attach_broadcast_gated_on_true_bytes(spark, monkeypatch):
    """r19 optimization pin (r18 verdict item 4; guide section 3.1):
    the embedding near-dup exact-cosine verify attaches the vector
    table via the same measured-bytes policy as the text family's
    `_verify_attach`, with the table size derived ARITHMETICALLY
    (rows x (dim x 8 + 32) -- no job): (a) past the broadcast-safety
    gate with the true bytes under the budget, both attachments are
    explicit broadcasts; (b) with the budget forced to zero, the
    memory-safe SHUFFLE_HASH hint stands; (c) both branches emit the
    same pairs (strategy-only change). Measured at the 20k-vec 10x
    fixture: total shuffle 10,267 -> 274.5 MB, identical 90,920 output
    rows / 26,858,727 candidates (plans/r19/emb_neardup_pairs_10x_*)."""
    from big_data_streaming_dashboard_spark.llmdata import dedup as dd
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        embedding_neardup_pairs,
    )

    embs = load_table(spark, SF, "embeddings").limit(200)
    baseline = sorted(
        map(tuple, embedding_neardup_pairs(embs, threshold=0.3).collect())
    )
    assert baseline, "fixture slice lost its near-dup pairs"
    # (a) scale path, true bytes under the budget: explicit broadcast,
    # and the candidate distinct keys on the packed single long
    # (r19: the jaccard packed-pair-key recipe on this family's dedup)
    monkeypatch.setattr(dd, "BROADCAST_SAFE_ROWS", 0)
    bcast = embedding_neardup_pairs(embs, threshold=0.3)
    plan = bcast._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in plan
    assert "_pk" in plan, "scale path must pack the candidate pair key"
    assert sorted(map(tuple, bcast.collect())) == baseline
    # packed-key fallback: ids past 2^31 refuse the pack, two-column
    # distinct stands, same pairs (shifted back)
    shift = 1 << 31
    big_ids = embs.withColumn("vec_id", F.col("vec_id") + shift)
    far = embedding_neardup_pairs(big_ids, threshold=0.3)
    assert "_pk" not in far._jdf.queryExecution().analyzed().toString()
    assert sorted(
        (r[0] - shift, r[1] - shift, r[2]) for r in far.collect()
    ) == baseline
    # (b) budget forced to zero: memory-safe hint, same pairs
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BROADCAST_MB", "0")
    hinted = embedding_neardup_pairs(embs, threshold=0.3)
    plan2 = hinted._jdf.queryExecution().analyzed().toString()
    assert "strategy=shuffle_hash" in plan2
    assert "strategy=broadcast" not in plan2
    assert sorted(map(tuple, hinted.collect())) == baseline


def test_ivf_multiprobe_recall(spark):
    """IVF with nprobe=2 of 16 lists: candidate budget ~corpus/8,
    recall measured 1.0 on the 5 fixture queries at sf0.1 (floor 0.8
    guards parameter edits)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import ivf_topk

    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    approx = ivf_topk(
        embs, n_queries=N_QUERIES, k=K, n_lists=16, n_probe=2
    ).collect()
    assert _recall(exact, approx) >= 0.8


def test_cross_encoder_rerank(spark):
    """Retrieve-then-rerank plumbing: k rows per query, scores in
    (0,1), deterministic, and the model slot raises without a stub."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        cross_encoder_rerank,
    )

    embs = load_table(spark, SF, "embeddings")
    got = cross_encoder_rerank(embs, n_queries=3, k=5).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for q, rows in per_q.items():
        assert len(rows) == 5
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
        assert all(0.0 < r["rerank_score"] < 1.0 for r in rows)
    again = sorted(map(tuple, cross_encoder_rerank(embs, n_queries=3, k=5).collect()))
    assert again == sorted(map(tuple, got))
    with pytest.raises(Exception, match="NotImplementedError|no cross-encoder"):
        cross_encoder_rerank(embs, n_queries=1, model_stub=False).collect()


def test_pq_topk_recall(spark):
    """PQ/ADC shortlist-then-rerank: recall@5 vs exact cosine pinned
    at >= 0.8 with the default corpus/8 shortlist (the same candidate
    budget the Hamming path is measured at); deterministic across
    runs; k rows per query, ranks dense."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        brute_force_topk,
        pq_topk,
    )

    embs = load_table(spark, SF, "embeddings")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(embs, k=5).collect()
    }
    got = pq_topk(embs, k=5).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2, 3, 4}
    for rows in per_q.values():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
    approx = {(r["query_id"], r["vec_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.8
    again = {(r["query_id"], r["vec_id"]) for r in pq_topk(embs, k=5).collect()}
    assert again == approx


def test_pq_sparse_ids_and_tiny_corpus(spark):
    """pq_encode seeds from the first n_codes rows BY ORDER, not by a
    dense `vec_id < n_codes` assumption: sparse/offset id spaces and
    corpora smaller than the codebook must encode without IndexError
    (codebook shrinks to the corpus size)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        pq_encode,
        pq_topk,
    )

    embs = load_table(spark, SF, "embeddings")
    # sparse, non-0-based ids: only multiples of 7, shifted by 1000
    sparse = embs.filter(F.col("vec_id") % 7 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    encoded, codebooks = pq_encode(sparse, n_subspaces=8, n_codes=16)
    assert encoded.count() == sparse.count()
    assert all(len(cb) == 16 for cb in codebooks)
    # corpus smaller than n_codes: codebook clamps, encoding still works
    tiny = embs.orderBy("vec_id").limit(5)
    encoded_t, codebooks_t = pq_encode(tiny, n_subspaces=8, n_codes=16)
    assert all(len(cb) == 5 for cb in codebooks_t)
    codes = [r["codes"] for r in encoded_t.collect()]
    assert all(all(0 <= c < 5 for c in cs) for cs in codes)
    # end-to-end on the sparse corpus: valid ranks, no crash
    got = pq_topk(sparse, n_queries=2, k=3).collect()
    qids = {r["query_id"] for r in got}
    assert qids == {1000, 1007}  # first two by order, not `< n_queries`


def _embedding_fixture_dirs():
    """EVERY embeddings fixture this suite/driver touches (r5 advice:
    the BLAS-vs-fold sign guarantee must be re-pinned per fixture, not
    assumed from sf-oracle alone). The 10x jittered fixture is included
    when its cache exists (built by the slow tests / bench)."""
    import os

    from .conftest import SF_ORACLE

    dirs = [
        "/root/testdata/sf0.001",
        SF_ORACLE,
        "/root/testdata/sf0.1",
    ]
    scale = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_fixture")
    if os.path.exists(os.path.join(scale, "embeddings.parquet")):
        dirs.append(scale)
    return [d for d in dirs if os.path.exists(os.path.join(d, "embeddings.parquet"))]


@pytest.mark.parametrize("fixture_dir", _embedding_fixture_dirs())
def test_sign_margin_blas_vs_fold_parity(fixture_dir):
    """The r5 oracle pairing of emb_hamming_topk / emb_lsh_topk rests
    on the engine's BLAS-batched plane signs agreeing with the
    oracle's left-fold signs. They can only disagree when |dot| is
    within float64 fold noise (~1e-12 on O(1) dots); pin that every
    fixture's smallest margin is orders of magnitude above that, and
    that the signs agree exactly on the tightest cases."""
    import numpy as np
    import pyarrow.parquet as pq

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        DEFAULT_SIG_BITS,
        EMBEDDING_DIM,
        gaussian_planes,
    )

    t = pq.read_table(f"{fixture_dir}/embeddings.parquet", columns=["embedding"])
    V = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    for n_planes in (DEFAULT_SIG_BITS, 32 * 10):
        P = np.array([list(p) for p in gaussian_planes(n_planes, EMBEDDING_DIM, 42)])
        D = V @ P.T
        assert np.abs(D).min() > 1e-9, "sign margin collapsed; oracle pairing unsafe"
        idx = np.unravel_index(np.argsort(np.abs(D), axis=None)[:50], D.shape)
        for i, j in zip(*idx):
            fold = 0.0
            for x, y in zip(V[i], P[j]):
                fold += x * y
            assert (fold >= 0) == (D[i, j] >= 0)


@pytest.mark.parametrize("fixture_dir", _embedding_fixture_dirs())
def test_ivf_assignment_margins(fixture_dir):
    """The r6 oracle pairing of emb_ivf_topk unrolls the Lloyd loop in
    DuckDB; per-cluster means are each engine's own avg(), whose
    reassociation puts the two engines' centroids within ~1e-13.
    Assignments (and therefore the probe cell and candidate set) agree
    as long as every vector's best-vs-second-best squared-distance
    margin dwarfs that noise, at every iteration. Pin the margin per
    embeddings fixture with a numpy mirror of the engine's loop."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{fixture_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(t["vec_id"].to_pylist())
    V = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    min_margin = np.inf
    # (8, 3) = emb_ivf_topk's; (8, 5) = emb_kmeans's; (16, 3) =
    # emb_ivf_topk_tuned's (r7 oracle pairing)
    for n_lists, iterations in ((8, 3), (8, 5), (16, 3)):
        cents = V[ids < n_lists][np.argsort(ids[ids < n_lists])].copy()
        for _ in range(iterations):
            d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            part = np.sort(d2, axis=1)
            min_margin = min(min_margin, float((part[:, 1] - part[:, 0]).min()))
            assign = d2.argmin(axis=1)
            for c in range(n_lists):
                m = V[assign == c]
                if len(m):
                    cents[c] = m.mean(axis=0)
    # propagated bound on the engines' d2 disagreement: centroid
    # components differ by avg() reassociation (~1e-13 on O(1)
    # doubles), so |d2_A - d2_B| <= dim * dc * 2*max|v-c| ~ 6e-12.
    # The tightest fixture (10x, deliberately jittered replicas)
    # measures 7.2e-9 -- three orders above the bound; floor at 1e-9
    # keeps >100x headroom and still fails loudly on a genuinely
    # ambiguous fixture
    assert min_margin > 1e-9, f"IVF assignment margin {min_margin} too tight"


@pytest.mark.parametrize("fixture_dir", _embedding_fixture_dirs())
def test_ivf_probe_rank_margins(fixture_dir):
    """The r7 oracle pairing of emb_ivf_topk_tuned (multi-probe IVF)
    adds one margin surface beyond assignment: each query ranks the
    FINAL-assignment centroids by squared distance and probes the
    n_probe nearest, so the n_probe-th vs (n_probe+1)-th gap must
    dwarf avg() reassociation noise (~6e-12 propagated bound, see
    test_ivf_assignment_margins) for the two engines to probe the
    same cells. Numpy mirror of similarity.ivf_topk's multi-probe
    branch at its registered config (n_lists=16, iterations=3,
    n_probe=2, n_queries=5)."""
    import numpy as np
    import pyarrow.parquet as pq

    n_lists, iterations, n_probe, n_queries = 16, 3, 2, 5
    t = pq.read_table(
        f"{fixture_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.array(t["vec_id"].to_pylist())
    V = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    cents = V[ids < n_lists][np.argsort(ids[ids < n_lists])].copy()
    assign = None
    for _ in range(iterations):
        d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_lists):
            m = V[assign == c]
            if len(m):
                cents[c] = m.mean(axis=0)
    # probe centroids = means of the FINAL assignment, only clusters
    # that appear in it (an empty cluster cannot be probed)
    live = sorted(set(assign.tolist()))
    fcents = np.array([V[assign == c].mean(axis=0) for c in live])
    Q = V[ids < n_queries]
    d2q = ((Q[:, None, :] - fcents[None, :, :]) ** 2).sum(axis=2)
    part = np.sort(d2q, axis=1)
    margin = float((part[:, n_probe] - part[:, n_probe - 1]).min())
    assert margin > 1e-9, f"IVF probe-rank margin {margin} too tight"


@pytest.mark.parametrize("fixture_dir", _embedding_fixture_dirs())
def test_rerank_rounding_margins(fixture_dir):
    """The r8 oracle pairing of emb_rerank_topk's DEFAULT scorer
    quantizes sigmoid(q.W.c) at 6 decimals BEFORE ranking, so the two
    engines agree as long as no candidate's score sits within
    cross-engine noise (~1e-14: einsum-vs-left-fold reassociation +
    libm exp ulps) of a rounding boundary. Pin the fixture's smallest
    distance-to-boundary with a numpy mirror of the engine path at the
    registered config (256-bit signatures, radius 112, 5 queries)."""
    import numpy as np
    import pyarrow.parquet as pq

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        DEFAULT_HAMMING_RADIUS,
        DEFAULT_SIG_BITS,
        EMBEDDING_DIM,
        cross_encoder_weights,
        gaussian_planes,
    )

    n_queries = 5
    t = pq.read_table(
        f"{fixture_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.array(t["vec_id"].to_pylist())
    V = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    P = np.array(
        [list(p) for p in gaussian_planes(DEFAULT_SIG_BITS, EMBEDDING_DIM, 42)]
    )
    bits = (V @ P.T >= 0)
    W = np.array([list(r) for r in cross_encoder_weights(EMBEDDING_DIM)])
    qmask = ids < n_queries
    margins = []
    for qi in np.where(qmask)[0]:
        ham = (bits != bits[qi]).sum(axis=1)
        cand = np.where((ham <= DEFAULT_HAMMING_RADIUS) & (ids != ids[qi]))[0]
        if not len(cand):
            continue
        z = np.einsum("i,ij,bj->b", V[qi], W, V[cand])
        s = 1.0 / (1.0 + np.exp(-z))
        frac = np.modf(s * 1e6)[0]
        margins.append(float(np.abs(frac - 0.5).min()))
    assert margins, "no rerank candidates on this fixture"
    margin = min(margins)
    # Cross-engine noise is ~1e-14 in score units = 1e-8 in these
    # grid units (the frac is score*1e6). Floor at 1e-6 grid units
    # (1e-12 score) keeps 100x headroom over the noise while
    # tolerating the uniform-min shrinkage of large candidate sets
    # (the 10x fixture's ~30k candidates measure 3.5e-5; expected
    # uniform min scales as 1/(2*n_candidates))
    assert margin > 1e-6, f"rerank rounding margin {margin} too tight"


def test_pq_recall_matches_independent_computation(spark):
    """emb_pq_recall (r11: the code-budget accuracy surface) must
    agree with this file's own set-based recall over the same two
    rankings, like its banding/probe-count siblings."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        pq_recall,
        pq_topk,
    )

    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    approx = pq_topk(embs, n_queries=N_QUERIES, k=K).collect()
    expected = _recall(exact, approx)
    rows = pq_recall(embs, n_queries=N_QUERIES, k=K).collect()
    assert len(rows) == N_QUERIES
    got = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert abs(got - expected) < 1e-6, (got, expected)
    for r in rows:
        assert r["n_exact"] == K
        assert 0 <= r["n_hit"] <= min(r["n_exact"], r["n_approx"])


def test_hybrid_rrf_fusion_matches_recomputed_ranks(spark):
    """doc_hybrid_rrf_topk's fusion must equal RRF recomputed in
    Python from the constituents' own ranks -- and the sf0.01 fixture
    must exercise the two-term branch (at least one fused doc carries
    BOTH provenance ranks; a fixture where the lists never overlap
    would leave the actual fusion sum untested, the vacuous-oracle
    discipline)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        HYBRID_FUSION_K,
        HYBRID_TOP_K,
        RRF_K,
        brute_force_topk,
        hybrid_rrf_topk,
    )
    from big_data_streaming_dashboard_spark.llmdata.text import bm25_topk

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    embs = load_table(spark, SF_ORACLE, "embeddings")

    lex_rows = bm25_topk(docs, top_k=HYBRID_FUSION_K).collect()
    lex = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(lex_rows, key=lambda r: (-r["score"], r["doc_id"]))
        )
    }
    dense = {
        r["vec_id"]: r["rank"]
        for r in brute_force_topk(
            embs, n_queries=1, k=HYBRID_FUSION_K
        ).collect()
    }
    expect = {}
    for d in set(lex) | set(dense):
        s = 0.0
        if d in lex:
            s = s + 1.0 / (RRF_K + lex[d])
        if d in dense:
            s = s + 1.0 / (RRF_K + dense[d])
        expect[d] = s
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:HYBRID_TOP_K]

    got = hybrid_rrf_topk(docs, embs).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in got] == want
    assert any(
        r["lex_rank"] is not None and r["cos_rank"] is not None for r in got
    ), "fixture never exercises the two-term fusion branch"


def test_hybrid_per_query_restriction_equals_single(spark):
    """hybrid_rrf_topk_per_query restricted to query 0 must equal
    hybrid_rrf_topk row-for-row (it is the streaming twin's parity
    target, so its n=1 slice must BE the registry query)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        hybrid_rrf_topk,
        hybrid_rrf_topk_per_query,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    embs = load_table(spark, SF_ORACLE, "embeddings")
    single = [
        (r["doc_id"], r["lex_rank"], r["cos_rank"], r["rrf_score"])
        for r in hybrid_rrf_topk(docs, embs).collect()
    ]
    multi = [
        (r["doc_id"], r["lex_rank"], r["cos_rank"], r["rrf_score"])
        for r in hybrid_rrf_topk_per_query(docs, embs, n_queries=1)
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .collect()
    ]
    assert single == multi and single


def test_matryoshka_recall_matches_independent_computation(spark):
    """emb_matryoshka_recall (r13: the truncation-budget surface) must
    agree with this file's own set-based recall over the same two
    rankings at every truncation width, like its banding/probe/code
    siblings -- and wider prefixes must not lose recall ON AVERAGE in
    this fixture (the surface's reason to exist: it discriminates
    widths)."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        MATRYOSHKA_TRUNC_DIMS,
        matryoshka_recall,
    )

    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    rows = matryoshka_recall(embs, n_queries=N_QUERIES, k=K).collect()
    means = {}
    for d in MATRYOSHKA_TRUNC_DIMS:
        truncated = embs.withColumn(
            "embedding", F.slice(F.col("embedding"), 1, int(d))
        )
        approx = brute_force_topk(
            truncated, n_queries=N_QUERIES, k=K, dim=int(d)
        ).collect()
        expected = _recall(exact, approx)
        d_rows = [r for r in rows if r["trunc_dim"] == d]
        assert len(d_rows) == N_QUERIES
        got = sum(r["recall_at_k"] for r in d_rows) / len(d_rows)
        assert abs(got - expected) < 1e-6, (d, got, expected)
        means[d] = got
    dims = sorted(means)
    assert all(means[a] <= means[b] for a, b in zip(dims, dims[1:])), means


def test_quant_recall_matches_independent_computation(spark):
    """emb_quant_recall (r13: the precision-budget surface) must agree
    with this file's own set-based recall over the same rankings at
    every bit width, like its banding/probe/code/width siblings -- and
    more bits must not lose recall on average (the surface's reason to
    exist), with the 2-bit rung strictly lossy so the fixture provably
    exercises missed hits."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        QUANT_RECALL_BITS,
        _quant_code_vectors,
        quant_recall,
    )

    embs = load_table(spark, SF, "embeddings")
    exact = brute_force_topk(embs, n_queries=N_QUERIES, k=K).collect()
    rows = quant_recall(embs, n_queries=N_QUERIES, k=K).collect()
    means = {}
    for b in QUANT_RECALL_BITS:
        max_code = (1 << (b - 1)) - 1
        approx = brute_force_topk(
            _quant_code_vectors(embs, max_code), n_queries=N_QUERIES, k=K
        ).collect()
        expected = _recall(exact, approx)
        b_rows = [r for r in rows if r["bits"] == b]
        assert len(b_rows) == N_QUERIES
        got = sum(r["recall_at_k"] for r in b_rows) / len(b_rows)
        assert abs(got - expected) < 1e-6, (b, got, expected)
        means[b] = got
    bits = sorted(means)
    assert all(means[a] <= means[b] for a, b in zip(bits, bits[1:])), means
    assert means[bits[0]] < 1.0, means  # the lossy rung is exercised


def test_hybrid_rrf_dense_only_when_no_lexical_matches(spark):
    """If NO document matches the lexical query, the hybrid must
    degrade to the dense ranking alone (empty lexical side of the
    full outer join) instead of erroring or emitting lexical
    artifacts -- the realistic cold-corpus edge for a fixed keyword
    query."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        HYBRID_TOP_K,
        RRF_K,
        hybrid_rrf_topk,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    from .conftest import SF_ORACLE

    docs = spark.createDataFrame(
        [(i, "nothing matches the fixed keyword query here") for i in range(6)],
        "doc_id long, text string",
    )
    embs = load_table(spark, SF_ORACLE, "embeddings")
    got = hybrid_rrf_topk(docs, embs).collect()
    assert len(got) == HYBRID_TOP_K
    assert all(r["lex_rank"] is None for r in got)
    # dense-only RRF: rank r scores exactly 1/(60+r), descending
    for i, r in enumerate(got):
        assert r["cos_rank"] == i + 1
        assert r["rrf_score"] == 1.0 / (RRF_K + i + 1)


def test_hybrid_per_query_lexical_only_when_dense_empty(spark):
    """r13 ADVICE: the multi-query batch form used to key the lexical
    re-broadcast off the DENSE result's query ids, so a query whose
    dense list is empty (degenerate corpus after self-exclusion)
    vanished from the batch output while the streaming twin -- which
    keys off the arriving batch -- still emitted its lexical-only
    rows. Both forms now derive qids from the QUERY side: a
    single-vector corpus (dense empty for query 0) must degrade to
    the pure lexical ranking, mirroring the dense-only edge test."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        RRF_K,
        hybrid_rrf_topk_per_query,
        lex_ranked,
    )

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], "l0")],
        "vec_id long, embedding array<double>, label string",
    )
    got = hybrid_rrf_topk_per_query(
        docs, embs, n_queries=1, dim=4
    ).orderBy(F.col("rrf_score").desc(), F.col("doc_id")).collect()
    lex = sorted(
        ((r["doc_id"], r["lex_rank"]) for r in lex_ranked(docs).collect()),
        key=lambda t: t[1],
    )
    assert got, "query with empty dense list vanished from the batch form"
    assert all(r["query_id"] == 0 and r["cos_rank"] is None for r in got)
    want = [
        (d, rk, 1.0 / (RRF_K + rk))
        for d, rk in lex[: len(got)]
    ]
    assert [(r["doc_id"], r["lex_rank"], r["rrf_score"]) for r in got] == want


def test_ladder_evaluators_refuse_empty_ladder(spark):
    """r13 ADVICE: an empty rungs ladder must die loudly at plan-build
    time, not as an opaque AttributeError on the caller's next
    DataFrame op (with the persisted exact constituent leaked)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        matryoshka_recall,
        quant_recall,
    )

    embs = spark.createDataFrame(
        [(0, [1.0, 0.0], "l0")],
        "vec_id long, embedding array<double>, label string",
    )
    with pytest.raises(ValueError, match="empty"):
        matryoshka_recall(embs, trunc_dims=(), dim=2)
    with pytest.raises(ValueError, match="empty"):
        quant_recall(embs, bits_ladder=(), dim=2)


def test_rrf_fusion_expression_matches_python_bulk(spark):
    """Bulk randomized cross-check of the shared fusion fragment
    (_rrf_score_sql) against Python floats: 2,000 seeded
    (lex_rank, cos_rank) pairs spanning present/NULL combinations,
    evaluated in ONE DataFrame pass, must equal the two-term
    reciprocal sum bit-for-bit (same written order, NULL -> 0.0) --
    the same bulk-pass pattern as the anomaly z-predicate check."""
    import random

    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        RRF_K,
        _rrf_score_sql,
    )

    rng = random.Random(13)
    rows = []
    for i in range(2000):
        lex = rng.choice([None, rng.randint(1, 1000)])
        cos = rng.choice([None, rng.randint(1, 1000)])
        rows.append((i, lex, cos))
    df = spark.createDataFrame(rows, "id long, lex_rank int, cos_rank int")
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", F.expr(_rrf_score_sql()).alias("s")
        ).collect()
    }
    for i, lex, cos in rows:
        exp = (1.0 / (RRF_K + lex) if lex is not None else 0.0) + (
            1.0 / (RRF_K + cos) if cos is not None else 0.0
        )
        assert got[i] == exp, (i, lex, cos, got[i], exp)
