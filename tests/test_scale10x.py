"""Round-4 scale-stress: the 100 TB design claims exercised at 10x.

Every prior scale claim rested on ~600k rows; these tests run the
headline plans on a ~10x fixture (6M lineitem / 1M events / 50k docs /
20k embeddings), pin that AQE's skew-join split actually fires on a
skewed shuffle join, and prove the LSH bucket cap keeps a
template-heavy corpus sub-quadratic. Numbers are recorded in STATE.md
per round.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from .scale10x import BOILERPLATE, REPS, ensure_scale_fixture

SF01 = "/root/testdata/sf0.1"

pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def scale_dir(spark):
    return ensure_scale_fixture(spark)


def _aqe_confs(spark, values: dict):
    old = {k: spark.conf.get(k, None) for k in values}
    for k, v in values.items():
        spark.conf.set(k, v)
    return old


def _restore(spark, old: dict):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_skew_split_fires(spark):
    """PLANS.md claims AQE handles residual skew at scale; this pins
    it: a 99%-hot-key shuffle join executes with SortMergeJoin
    (skew=true) + an 'AQEShuffleRead ... skewed' split under AQE, and
    does NOT when skew handling is disabled -- same results both ways.

    The downstream op is a global agg on purpose: a groupBy on the
    join key would re-require hash distribution and legally veto the
    split (splitting breaks co-partitioning) -- the veto itself is
    Spark behaving correctly, not a missing optimization."""
    values = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = _aqe_confs(spark, values)
    try:
        pay = "x" * 200
        fact = spark.range(2_000_000).select(
            (F.col("id") % 100).alias("kk")
        ).select(
            F.when(F.col("kk") < 99, F.lit(0))
            .otherwise(F.lit(1) + F.col("kk"))
            .alias("k"),
            F.concat(F.lit(pay), F.col("kk").cast("string")).alias("pay"),
        )
        dim = spark.range(400).select(F.col("id").alias("k"))
        j = fact.join(dim, "k").agg(F.sum(F.length("pay")).alias("s"))
        skewed_result = j.collect()[0]["s"]
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final[:2000]
        assert "skewed" in final, final[:2000]  # AQEShuffleRead split

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        j2 = fact.join(dim, "k").agg(F.sum(F.length("pay")).alias("s"))
        plain_result = j2.collect()[0]["s"]
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan2.split("== Initial Plan ==")[0]
        assert skewed_result == plain_result  # split changes plan, not answer
    finally:
        _restore(spark, old)


def test_lsh_bucket_cap_subquadratic_on_skewed_corpus(spark, scale_dir):
    """A 30%-boilerplate corpus (one shared text -> one degenerate
    band bucket holding ~6k docs) would uncapped materialize
    ~6k*6k/2 = 18M candidate pairs in that bucket alone. The cap
    excludes the bucket BEFORE the self-join: the oversized bucket is
    observable, the candidate join stays sub-quadratic, and the run
    completes in bounded time."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_pairs,
        oversized_buckets,
    )
    from big_data_streaming_dashboard_spark.tables import load_table, spread

    docs = spread(
        spark.read.parquet(f"{scale_dir}/documents_skew.parquet"), spark
    )
    n_docs = docs.count()
    n_boiler = docs.filter(F.col("text") == BOILERPLATE).count()
    assert n_boiler >= 0.25 * n_docs  # the fixture really is degenerate

    over = oversized_buckets(docs).collect()
    assert over, "boilerplate bucket not detected as oversized"
    assert max(r["n_docs"] for r in over) >= n_boiler  # the hot bucket

    t0 = time.perf_counter()
    pairs = neardup_pairs(docs)
    n_pairs = pairs.count()
    wall = time.perf_counter() - t0
    quadratic = n_boiler * (n_boiler - 1) // 2
    # organic replicas still pair up; the 18M-pair boilerplate square
    # must not (it routes to oversized_buckets for template handling)
    assert n_pairs < quadratic / 10, (n_pairs, quadratic)
    assert wall < 300, f"skewed-corpus near-dup took {wall:.0f}s"


def test_headline_queries_scale_linearly(spark, scale_dir):
    """The 100x claim, measured at 10x: per-query wall time on the 10x
    fixture stays within LINEAR_SLACK x the sf0.1 time, and row counts
    scale exactly REPS x (same plans, just more data -- no quadratic
    blowup, no skew collapse). min-of-2 per point to shave scheduler
    noise; the generous slack absorbs machine contention, not
    algorithmic regressions (a quadratic operator would blow past it)."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        minhash_signature,
    )
    from big_data_streaming_dashboard_spark.operators.pipeline import (
        batch_pipeline,
    )
    from big_data_streaming_dashboard_spark.plans.relational import (
        pricing_summary,
    )
    from big_data_streaming_dashboard_spark.tables import (
        bronze_radiation,
        load_table,
        spread,
    )

    LINEAR_SLACK = 25  # 10x data; >2.5x super-linear drift fails

    def run(fn):
        best = float("inf")
        n = 0
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn()
            n = df.count()
            best = min(best, time.perf_counter() - t0)
        return best, n

    from big_data_streaming_dashboard_spark.plans.relational import (
        revenue_by_nation,
    )

    cases = {
        "full_pipeline": lambda sf: batch_pipeline(bronze_radiation(spark, sf)),
        "pricing_summary": lambda sf: pricing_summary(spark, sf),
        "revenue_by_nation": lambda sf: revenue_by_nation(spark, sf),
        "doc_minhash": lambda sf: minhash_signature(
            spread(load_table(spark, sf, "documents"), spark)
        ),
    }
    report = {}
    for name, make in cases.items():
        t_small, n_small = run(lambda: make(SF01))
        t_big, n_big = run(lambda: make(scale_dir))
        report[name] = (t_small, t_big, n_small, n_big)
        if name == "doc_minhash":  # one signature row per doc, exact
            assert n_big == REPS * n_small, (name, n_small, n_big)
        elif name == "revenue_by_nation":
            # coherent star at 10x: same 25 groups, each with exactly
            # REPS x the lineitems and REPS x the exact decimal revenue
            small = {
                (r["n_name"], r["r_name"]): (r["revenue"], r["n_lineitems"])
                for r in make(SF01).collect()
            }
            big = {
                (r["n_name"], r["r_name"]): (r["revenue"], r["n_lineitems"])
                for r in make(scale_dir).collect()
            }
            assert set(small) == set(big) and len(big) == 25
            for key, (rev_s, n_s) in small.items():
                rev_b, n_b = big[key]
                assert n_b == REPS * n_s, key
                assert abs(rev_b - REPS * rev_s) < 1e-6 * abs(rev_b), key
        elif name == "full_pipeline":
            # dedup_key collisions across replicas and the shifted dirt
            # moduli (event_id*10+rep) make exact 10x impossible by
            # design; within 1% proves no blowup/collapse
            assert abs(n_big - REPS * n_small) < 0.01 * REPS * n_small, (
                name,
                n_small,
                n_big,
            )
        assert t_big < LINEAR_SLACK * max(t_small, 0.2), (name, report[name])
    # one line the STATE.md numbers come from
    print("SCALE10X " + repr(report))


def test_w4_hot_second_rejoin_rocksdb(spark, tmp_path):
    """W4 two-phase rejoin under a HOT second (20k rows in one event
    second -- the skew case the reference-faithful collect_list shape
    buffers as one monolithic array value): with RocksDB state, phase 1
    emits the per-second COUNT (one state row per window, never an
    array), phase 2 re-joins per record with per-row join state. Pins:
    no collect_list anywhere in either plan, the hot window's final
    batch size is exact, every hot row is re-emitted, and the join's
    state metrics show per-row entries (>= hot_n rows updated)."""
    import time as _time

    from big_data_streaming_dashboard_spark.sources.streams import (
        stream_parquet_bronze,
    )
    from big_data_streaming_dashboard_spark.streaming.pipeline import (
        silver_stream,
        stream_temporal_counts,
        temporal_annotated_rejoin,
        temporal_counts_to_files,
    )

    hot_n = 20_000
    hot_ts = "2024-06-01 12:00:00"
    src = str(tmp_path / "bronze_hot")

    def bronze_rows(ids, ts_expr):
        return spark.range(*ids).select(
            F.col("id").alias("event_id"),
            ts_expr.alias("captured_time"),
            F.format_string("%.2f", (F.col("id") % 17000) / 100.0 - 85.0).alias(
                "latitude"
            ),
            F.format_string("%.2f", (F.col("id") % 35000) / 100.0 - 175.0).alias(
                "longitude"
            ),
            # distinct per row -> distinct dedup keys (no dedup collapse)
            F.format_string("%.2f", 1.0 + F.col("id").cast("double") / 4.0).alias(
                "value"
            ),
            F.lit("cpm").alias("unit"),
            F.lit(1717243200000).alias("ingestion_timestamp"),
        )

    bronze_rows((0, hot_n), F.lit(hot_ts)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _time.sleep(0.2)  # later mtime -> replayed second (advances watermark)
    tail = bronze_rows(
        (hot_n, hot_n + 60),
        F.concat(
            F.lit("2024-06-01 12:00:"),
            F.lpad((10 + F.col("id") % 40).cast("string"), 2, "0"),
        ),
    )
    tail.coalesce(1).write.mode("append").parquet(src)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        counts_dir = str(tmp_path / "counts")
        ckpt1 = str(tmp_path / "ckpt1")
        silver1 = silver_stream(stream_parquet_bronze(spark, src), bounded_state=False)
        q1 = temporal_counts_to_files(silver1, counts_dir, ckpt1)
        q1.awaitTermination(180)
        counts_static = spark.read.parquet(counts_dir)
        assert "collect_list" not in counts_static.schema.simpleString()
        hot = counts_static.filter(F.col("timestamp_key") == hot_ts).collect()
        assert len(hot) == 1 and hot[0]["temporal_batch_size"] == hot_n

        silver2 = silver_stream(stream_parquet_bronze(spark, src), bounded_state=False)
        joined = temporal_annotated_rejoin(
            silver2, stream_temporal_counts(spark, counts_dir)
        )
        assert "collect_list" not in joined._jdf.queryExecution().analyzed().toString()
        name = f"hot_{abs(hash(str(tmp_path))) % 10**8}"
        q2 = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        got = spark.table(name)
        hot_rows = got.filter(F.col("timestamp_key") == hot_ts)
        assert hot_rows.count() == hot_n  # every hot row re-emitted
        sizes = hot_rows.select("temporal_batch_size").distinct().collect()
        assert [r["temporal_batch_size"] for r in sizes] == [hot_n]
        # per-row join state, not one array value per window: the state
        # store saw at least one row-update per hot record
        updated = sum(
            op.get("numRowsUpdated", 0)
            for p in q2.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert updated >= hot_n, updated
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_neardup_clusters_at_10x_no_driver_broadcast(spark, scale_dir):
    """Connected components at 50k docs: the iterative min-label loop
    must never let Catalyst auto-broadcast the corpus-sized label /
    shingle tables (it OOMed a default-memory driver before the
    SHUFFLE_HASH hints -- the 10x fixture caught it). Also pins the
    expected structure: every 10-replica group collapses into one
    cluster, so all cluster sizes are multiples of 10."""
    from collections import Counter

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
    )
    from big_data_streaming_dashboard_spark.tables import spread

    docs = spread(spark.read.parquet(f"{scale_dir}/documents.parquet"), spark)
    rows = neardup_clusters(docs).collect()
    assert len(rows) == 50_000
    sizes = Counter(r["cluster_id"] for r in rows)
    assert all(n % REPS == 0 for n in sizes.values()), Counter(
        sizes.values()
    )
    assert max(sizes.values()) >= REPS  # replicas really did cluster
    # no monolithic blob: the biggest cluster stays a small multiple
    assert max(sizes.values()) <= 10 * REPS


def test_embedding_neardup_band_width_scales(spark, scale_dir):
    """The vector near-dup scale knob, measured: at 20k embeddings the
    default 8-bit bands yield a ~N^2/8 candidate join (~25M pairs --
    heap-killing on a small executor); 16-bit bands (same 256 planes)
    cut candidates ~250x while keeping 100% recall on the true
    replica pairs (near-identical vectors collide on every band
    regardless of width). Pins the documented knob: rows_per_band
    grows with log2(N)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        embedding_neardup_pairs,
    )
    from big_data_streaming_dashboard_spark.tables import spread

    embs = spread(spark.read.parquet(f"{scale_dir}/embeddings.parquet"), spark)
    n_vecs = embs.count()
    assert n_vecs == 20_000
    pairs = embedding_neardup_pairs(embs, bands=16, rows_per_band=16)
    rows = pairs.collect()
    # ground truth: replicas of one base vector differ only by the
    # deterministic +/-0.0045 jitter -> every same-group pair is a
    # true near-dup; groups are vec_id // REPS
    same_group = [r for r in rows if r["vec_a"] // REPS == r["vec_b"] // REPS]
    expected = (n_vecs // REPS) * (REPS * (REPS - 1) // 2)
    assert len(same_group) == expected  # 100% recall on true pairs
    # and the widened bands keep the join sub-quadratic: few spurious
    assert len(rows) < expected * 1.2, len(rows)


def test_label_components_log_rounds_on_long_chain(spark):
    """r4 verdict item 6: connected components must not need
    O(diameter) rounds on pathological chain corpora. A 256-vertex
    path graph (diameter 255) converges in <= ceil(log2(255)) + 2
    rounds thanks to the per-round pointer jump, with the exact
    min-label result; a 2048-chain stays <= ceil(log2(2047)) + 2,
    pinning the O(log d) growth rate."""
    import math

    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        _label_components,
    )

    for n in (256, 2048):
        verts = spark.range(n).select(F.col("id").alias("doc_id"))
        chain = spark.range(n - 1).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        labels, rounds = _label_components(verts, chain, n=n, max_iterations=20)
        assert rounds <= math.ceil(math.log2(n - 1)) + 2, (n, rounds)
        rows = labels.collect()
        assert len(rows) == n
        assert all(r["cluster_id"] == 0 for r in rows), n
    # disjoint 8-cliques keep distinct labels (no cross-component leak)
    n, k = 64, 8
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    cliq = (
        verts.alias("a")
        .join(verts.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter((F.col("a.doc_id") / k).cast("int") == (F.col("b.doc_id") / k).cast("int"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    labels, rounds = _label_components(verts, cliq, n=n, max_iterations=20)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert all(got[i] == (i // k) * k for i in range(n))
    assert rounds <= 3


def test_new_relational_queries_exact_at_10x(spark, scale_dir):
    """The r5 relational queries at 10x facts, pinned by EXACT
    relationships (decimal sums make them bit-checkable): lineitem
    rows replicate 10x with part/supp keys untouched and orders
    replicate on the same orderkey mapping, so promo revenue and
    per-customer lost revenue scale exactly 10x (share percentage
    IDENTICAL), while Q16's DISTINCT supplier/part counts are
    UNCHANGED and only the plain row count scales."""
    from big_data_streaming_dashboard_spark.plans.relational3 import (
        brand_supplier_variety,
        promo_revenue_share,
        returned_top_customers,
    )

    sf = "/root/testdata/sf0.1"

    [p_small] = promo_revenue_share(spark, sf).collect()
    [p_big] = promo_revenue_share(spark, scale_dir).collect()
    assert p_big["n_lineitems"] == 10 * p_small["n_lineitems"]
    assert p_big["promo_revenue"] == 10 * p_small["promo_revenue"]
    assert p_big["total_revenue"] == 10 * p_small["total_revenue"]
    assert p_big["promo_share_pct"] == p_small["promo_share_pct"]

    small = {r["custkey"]: r for r in returned_top_customers(spark, sf).collect()}
    big = {r["custkey"]: r for r in returned_top_customers(spark, scale_dir).collect()}
    assert set(big) == set(small)  # same top-10 customers
    for k, r in big.items():
        assert r["lost_revenue"] == 10 * small[k]["lost_revenue"]
        assert r["n_returned_items"] == 10 * small[k]["n_returned_items"]

    vs = {r["p_brand"]: r for r in brand_supplier_variety(spark, sf).collect()}
    vb = {r["p_brand"]: r for r in brand_supplier_variety(spark, scale_dir).collect()}
    assert set(vb) == set(vs)
    for b, r in vb.items():
        assert r["n_suppliers"] == vs[b]["n_suppliers"]  # distinct: unchanged
        assert r["n_parts"] == vs[b]["n_parts"]
        assert r["n_lineitems"] == 10 * vs[b]["n_lineitems"]


def test_r5_text_ops_scale_at_10x(spark, scale_dir):
    """The round-5 per-doc operators at 50k docs: map-only ops
    (chunker, normalizer incl. its Arrow NFC hop, Gopher battery,
    line scrub) emit exactly one verdict per doc (or tile every doc's
    tokens), and the domain cap holds exactly at 10x scale."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.text import (
        chunk_spans,
        dedupe_lines,
        gopher_rules,
        line_decorate,
        normalize_decorate,
        normalize_text,
    )
    from big_data_streaming_dashboard_spark.plans.relational3 import domain_cap
    from big_data_streaming_dashboard_spark.tables import spread

    docs = spread(spark.read.parquet(f"{scale_dir}/documents.parquet"), spark)
    n_docs = docs.count()
    assert n_docs == 50_000

    assert gopher_rules(docs).count() == n_docs
    norm = normalize_text(normalize_decorate(docs))
    agg = norm.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("changed").cast("int")).alias("c")
    ).collect()[0]
    # decorator dirties doc_id % 3 in (0, 1); % 3 == 2 stays clean
    n_dirty = docs.filter("doc_id % 3 != 2").count()
    assert agg["n"] == n_docs and agg["c"] == n_dirty
    scrub = dedupe_lines(line_decorate(docs))
    assert scrub.filter("n_unique_lines < n_lines").count() == n_docs // 2
    spans = chunk_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(F.max("end_token").alias("m"))
    assert per_doc.count() == n_docs  # every doc fully tiled
    capped = domain_cap(docs)
    kept = capped.filter("kept").groupBy("source").count().collect()
    assert all(r["count"] == 10 for r in kept)  # cap exact at 10x


def test_containment_prefix_bounded_on_low_entropy_corpus(spark, scale_dir):
    """r6 fix for the r5-measured scale boundary: on the 10x corpus
    (10 near-identical replicas per base doc -- every trigram's df is
    inflated ~10x, the low-entropy shape) the raw postings self-join
    generated candidates as Σ_sh C(df, 2) and its verify spilled
    ~78 GB before dying. The prefix-filtered path
    (`_prefix_candidates`, AllPairs/PPJoin) must (a) complete in
    bounded time, (b) generate an order of magnitude fewer candidate
    pairs than the old path's candidate-row volume, and (c) lose NO
    recall -- every intra-replica-group containment pair (true
    containment ~m/(m+1) >= 0.8) is found, per the exactness proof."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        _bounded_postings,
        _prefix_candidates,
        containment_pairs,
    )
    from big_data_streaming_dashboard_spark.physical import corpus_count, scale_hint_merge
    from big_data_streaming_dashboard_spark.tables import spread

    docs = spread(
        spark.read.parquet(f"{scale_dir}/documents.parquet"), spark
    ).select("doc_id", "text")
    n = corpus_count(docs)
    assert n == 50_000

    # (b) candidate volume: old path = Σ C(df,2) over capped shingles
    # (measured 138M on this corpus); prefix path must be way under
    old_volume = (
        _bounded_postings(docs, 1000)
        .groupBy("sh_hash")
        .agg(F.first("df").alias("df"))
        .agg(F.sum(F.expr("df * (df - 1) / 2")).alias("v"))
        .first()["v"]
    )
    cand = _prefix_candidates(
        docs, 0.8, 1000, n, scale_hint_merge, symmetric=False
    )
    n_cand = cand.count()
    assert n_cand < old_volume / 5, (n_cand, old_volume)

    # (a) the full query completes in bounded time (old path: died)
    t0 = time.perf_counter()
    pairs = containment_pairs(docs, threshold=0.8).persist()
    n_pairs = pairs.count()
    wall = time.perf_counter() - t0
    assert wall < 300, f"containment at 10x took {wall:.0f}s"
    assert n_pairs > 100_000  # replica groups really do pair up

    # (c) recall pin on one full replica group (base doc 4719, 101
    # tokens -> 99 shingles; replicas differ by one trailing " repN"
    # token, so pairwise containment = 99/100 >= 0.8): all
    # 2 * C(10,2) = 90 directed pairs must be present
    group = [47190 + r for r in range(10)]
    got = pairs.filter(
        F.col("contained_doc").isin(group) & F.col("container_doc").isin(group)
    ).count()
    assert got == 90, got
    pairs.unpersist()


def test_streaming_curation_full_sf01_default_thresholds(spark, tmp_path):
    """The full-ladder verdict stream at sf0.1 with DEFAULT thresholds
    (cosine 0.5, Jaccard 0.5 -- the sf0.001 parity test lowers them
    because the tiny fixture has no pairs there): 5,000 docs against
    artifacts built from the same corpus reproduce
    `curation_pipeline_full` row-for-row, with the probe-backed dedup
    reasons actually firing at the production thresholds."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline_full,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        curation_verdict_batches,
        stream_documents_full,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.1"
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    embs = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "curidx")
    write_curation_index(docs, embs, idx)
    docs_dir = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(docs_dir)

    out = str(tmp_path / "verdicts")
    q = curation_verdict_batches(
        stream_documents_full(spark, docs_dir),
        idx,
        out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(600)

    s_rows = {
        r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(out).collect()
    }
    batch = curation_pipeline_full(docs, embs).collect()
    b_rows = {r["doc_id"]: tuple(r)[1:] for r in batch}
    assert set(s_rows) == set(b_rows)
    mismatches = [k for k in b_rows if s_rows[k] != b_rows[k]]
    assert not mismatches, mismatches[:5]
    reasons = {r["drop_reason"] for r in batch if r["drop_reason"]}
    # the default-threshold dedup reasons must actually fire here
    assert {"near_duplicate", "exact_duplicate"} & reasons, reasons


def test_lsm_append_at_10x_delta_sized(spark, scale_dir, tmp_path):
    """r12 (r11 verdict item 6): the LSM refresh's delta-sized-write
    claim at the scale the canaries run. Three pins:

    1. BASE-SIZE INDEPENDENCE (the claim itself): appending the same
       5k-doc delta costs about the same onto a 5k-doc base as onto a
       55k-doc base -- a rebuild-sized append would pay ~11x on the
       big base. Bound is 3x to absorb box noise; the failure mode it
       guards (an accidental base re-scan) is an order of magnitude.
    2. EXACT-TABLE PARITY over the union: the append-only MIN log,
       reader-merged, equals a direct groupBy-MIN over every doc ever
       ingested, row-for-row -- at 60k docs, not just the sf0.001
       parity fixture.
    3. BOUNDED COMPACTION: compacting the 3-increment log yields
       exactly one row per distinct text_hash (never log-sized).

    The 10x increment's wall time is recorded in the assertion
    context (it is the linear-in-increment data point: ~10x the small
    delta's cost, never base-dependent)."""
    import time

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_curation_index,
        compact_curation_index,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs10 = spark.read.parquet(os.path.join(scale_dir, "documents.parquet"))
    embs10 = spark.read.parquet(os.path.join(scale_dir, "embeddings.parquet"))
    docs01 = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text", "lang", "source"
    )
    embs01 = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    # the same 5k-doc delta for both bases, ids offset clear of both
    OFF = 1_000_000
    delta_docs = docs01.select(
        (F.col("doc_id") + OFF).alias("doc_id"), "text", "lang", "source"
    )
    delta_embs = embs01.select(
        (F.col("vec_id") + OFF).alias("vec_id"),
        *[c for c in embs01.columns if c != "vec_id"],
    )

    def timed_append(root):
        t0 = time.perf_counter()
        append_curation_index(delta_docs, delta_embs, root)
        return time.perf_counter() - t0

    small = str(tmp_path / "small")
    write_curation_index(docs01, embs01, small)
    t_small = timed_append(small)

    big = str(tmp_path / "big")
    write_curation_index(docs01, embs01, big)
    t0 = time.perf_counter()
    big_docs10 = docs10.select(
        (F.col("doc_id") + 2 * OFF).alias("doc_id"), "text", "lang", "source"
    )
    big_embs10 = embs10.select(
        (F.col("vec_id") + 2 * OFF).alias("vec_id"),
        *[c for c in embs10.columns if c != "vec_id"],
    )
    append_curation_index(big_docs10, big_embs10, big)
    t_tenx_increment = time.perf_counter() - t0
    # base is now 55k docs; the SAME 5k delta must not cost more than
    # it did on the 5k base (modulo noise) -- pin 1
    t_big = timed_append(big)
    assert t_big < 3 * max(t_small, 2.0), (
        f"append of the same 5k delta: {t_small:.1f}s on 5k base vs "
        f"{t_big:.1f}s on 55k base (10x increment itself took "
        f"{t_tenx_increment:.1f}s) -- append cost grew with BASE size, "
        "the rebuild-sized failure the LSM log exists to prevent"
    )

    # pin 2: reader-merge over the 3-increment log == direct MIN over
    # the union corpus
    union_docs = docs01.unionByName(big_docs10).unionByName(delta_docs)
    want = {
        (r["text_hash"], r["min_doc_id"])
        for r in union_docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("min_doc_id"))
        .collect()
    }
    merged = {
        (r["text_hash"], r["min_doc_id"])
        for r in spark.read.parquet(big + "/exact")
        .groupBy("text_hash")
        .agg(F.min("min_doc_id").alias("min_doc_id"))
        .collect()
    }
    assert merged == want

    # pin 3: compaction output is distinct-hash-sized, never log-sized
    log_rows = spark.read.parquet(big + "/exact").count()
    compact_curation_index(spark, big)
    compacted = spark.read.parquet(big + "/exact")
    assert compacted.count() == len(want) <= log_rows
    assert {
        (r["text_hash"], r["min_doc_id"]) for r in compacted.collect()
    } == want


def test_streaming_retention_sf01_rocksdb_reverse_replay(spark, tmp_path):
    """r12 (r11 verdict item 8): cohort retention streamed at sf0.1
    (100k events, ~1.5k users) under the RocksDB state store, replayed
    in REVERSE timestamp order across 8 micro-batches -- every batch
    shifts most users' cohort assignment earlier, the changelog
    re-emission case, at the scale the batch query benches. The
    collapsed triangle must equal weekly_cohort_retention row-for-row."""
    import uuid

    from big_data_streaming_dashboard_spark.plans.relational4 import (
        weekly_cohort_retention,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        retention_latest,
        retention_state_stream,
        retention_triangle,
    )
    from big_data_streaming_dashboard_spark.tables import load_table
    from pyspark.sql import Window

    sf = "/root/testdata/sf0.1"
    ev = load_table(spark, sf, "events").select("user_id", "ts")
    n_files = 8
    sliced = ev.withColumn(
        "_slice",
        F.ntile(n_files).over(Window.orderBy(F.col("ts").desc())),
    )
    src = str(tmp_path / "events_ret01")
    for i in range(1, n_files + 1):
        sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.2)  # mtime order = replay order

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        schema = ev.schema
        stream = retention_state_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        name = f"ret01_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        emitted = spark.table(name)
        # reverse replay must have forced multi-batch re-emission
        assert emitted.agg(F.max("seq")).collect()[0][0] >= 4
        got = sorted(
            tuple(r)
            for r in retention_triangle(retention_latest(emitted)).collect()
        )
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    want = sorted(
        tuple(r) for r in weekly_cohort_retention(spark, sf).collect()
    )
    # non-vacuous at sf0.1: the fixture spans 5 weeks in ONE cohort
    # (counted, per the vacuous-oracle audit discipline), and the
    # last offset's count differs from the rest -- so a wrong offset
    # vector or dropped re-emission cannot hash-match
    assert len(want) == 5
    counts = {w[2] for w in want}
    assert len(counts) > 1, "triangle counts do not discriminate"
    assert got == want


def test_streaming_analytics_surface_sf01_rocksdb(spark, tmp_path):
    """r13 (r12 verdict item 7): the unified product-analytics
    capstone at the scale the batch queries bench -- sf0.1 (100k
    events) replayed in event-time order on whole-second micro-batch
    boundaries (the strictest-constituent contract) across 8 files
    under the RocksDB state store, all three finished tables matching
    their batch counterparts row-for-row. This closes the gap between
    the per-operator fixed-cost study (retention alone was pinned at
    sf0.1) and the single-surface capstone."""
    import uuid

    from big_data_streaming_dashboard_spark.plans.relational4 import (
        event_funnel,
        value_anomalies,
        weekly_cohort_retention,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        analytics_tables,
        analytics_verdict_batches,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = SF01
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    # 8 slices cut on WHOLE-SECOND boundaries, computed in Spark (no
    # 100k-row driver collect): rank distinct seconds, assign each
    # row its second's octile, write octiles oldest-first
    secs = [
        r["s"]
        for r in ev.select(
            F.floor(F.unix_timestamp("ts")).alias("s")
        ).distinct().orderBy("s").collect()
    ]
    n_files = 8
    cuts = [secs[(len(secs) * i) // n_files] for i in range(1, n_files)]
    slice_expr = sum(
        (F.floor(F.unix_timestamp("ts")) >= F.lit(c)).cast("int")
        for c in cuts
    )
    sliced = ev.withColumn("_slice", slice_expr)
    src = str(tmp_path / "events_uni01")
    for i in range(n_files):
        sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.2)  # mtime order = replay order

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out_root = str(tmp_path / f"analytics01_{uuid.uuid4().hex[:8]}")
    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        queries = analytics_verdict_batches(
            stream, out_root, checkpoint=str(tmp_path / "ckpt_uni01")
        )
        for q in queries:
            q.awaitTermination(600)
        got = analytics_tables(spark, out_root)

        f_got = sorted(tuple(r) for r in got["funnel"].collect())
        f_want = sorted(tuple(r) for r in event_funnel(spark, sf).collect())
        assert f_want[0][2] > f_want[1][2] > f_want[2][2] > 0
        assert f_got == f_want

        r_got = sorted(tuple(r) for r in got["retention"].collect())
        r_want = sorted(
            tuple(r) for r in weekly_cohort_retention(spark, sf).collect()
        )
        assert len(r_want) == 5
        assert len({w[2] for w in r_want}) > 1  # discriminating counts
        assert r_got == r_want

        a_got = sorted(tuple(r) for r in got["anomalies"].collect())
        a_want = sorted(
            tuple(r) for r in value_anomalies(spark, sf).collect()
        )
        assert len(a_want) > 5000  # 8,261 at sf0.1 when added
        assert a_got == a_want
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_bm25_serving_zipf_rare_terms_prune(spark, tmp_path):
    """r14 verdict item 3: the BM25 serving canary measured a
    degenerate fixture -- the driver corpus's ~31-word vocabulary
    makes every query term stopword-grade (df ~= N), so its 10x wall
    (50.9 s for 500 queries) was posting-volume arithmetic, not plan
    quality, and could not catch a pruning regression. This canary
    probes a 50k-doc corpus with a 4k-term Zipf vocabulary (the
    rank-frequency shape real text has) and pins the cost model
    DETERMINISTICALLY: rare-term queries carry orders of magnitude
    less posting volume than stopword-grade ones THROUGH THE SAME
    PLAN. Walls are printed for the PLANS.md ledger; assertions stay
    on the volume model and output shape (walls on this VM swing 3x)."""
    from big_data_streaming_dashboard_spark.llmdata.text import bm25_topk
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        bm25_topk_batches,
        stream_keyword_queries,
        write_bm25_index,
    )

    from .scale10x import ZIPF_DOCS, ensure_zipf_corpus

    docs = spark.read.parquet(ensure_zipf_corpus(spark))
    assert docs.count() == ZIPF_DOCS

    t0 = time.perf_counter()
    idx = write_bm25_index(docs, str(tmp_path / "bm"))
    build_s = time.perf_counter() - t0

    postings = spark.read.parquet(idx + "/postings")
    df_by_term = {
        r["term"]: r["df"]
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    # the vocabulary is genuinely a few thousand terms with a skewed
    # rank-frequency curve: the head is stopword-grade, a deep tail is
    # rare (df(rank r) ~= 169k/r under the inverse-CDF draw)
    assert 3_000 <= len(df_by_term) <= 4_000
    assert df_by_term["t1"] > 0.8 * ZIPF_DOCS
    rare_pool = sorted(t for t, d in df_by_term.items() if d <= 200)
    assert len(rare_pool) >= 2_000

    # 500 rare-term queries vs the stopword-grade query, costed by the
    # exhaustive scorer's exact model: sum over probed terms of their
    # posting-list lengths. This is the quantity the r14 canary got
    # wrong-by-fixture; here it discriminates by >100x per query.
    rare_queries = [
        (i, " ".join(rare_pool[(3 * i + j) % len(rare_pool)] for j in range(3)))
        for i in range(500)
    ]
    rare_vol = sum(
        df_by_term[t] for _i, kw in rare_queries for t in kw.split()
    ) / len(rare_queries)
    common_vol = df_by_term["t1"] + df_by_term["t2"] + df_by_term["t3"]
    assert common_vol > 100 * rare_vol

    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        rare_queries, "query_id long, keywords string"
    ).coalesce(1).write.parquet(qdir)
    out = str(tmp_path / "out")
    t0 = time.perf_counter()
    q = bm25_topk_batches(
        stream_keyword_queries(spark, qdir),
        postings,
        spark.read.parquet(idx + "/stats"),
        out,
        k=20,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(600)
    rare_probe_s = time.perf_counter() - t0
    rows = spark.read.parquet(out)
    n_out = rows.count()
    assert 500 <= n_out <= 500 * 20
    assert rows.select("query_id").distinct().count() == 500

    # one rare query bit-exact against the batch scorer on this corpus
    # shape (the randomized parity suite covers the logic; this pins
    # the NEW fixture end-to-end through real index I/O)
    qid0, kw0 = rare_queries[0]
    want = [
        (i + 1, r["doc_id"], r["score"])
        for i, r in enumerate(
            bm25_topk(docs, query_terms=tuple(kw0.split()), top_k=20).collect()
        )
    ]
    got = sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in rows.filter(F.col("query_id") == qid0).collect()
    )
    assert got == want

    print(
        f"\nZIPF BM25 canary: build {build_s:.1f}s, 500 rare-term "
        f"queries {rare_probe_s:.1f}s, per-query posting volume "
        f"rare {rare_vol:.0f} vs stopword {common_vol} "
        f"({common_vol / max(rare_vol, 1):.0f}x)"
    )


def test_hybrid_ann_dense_probe_budget_at_10x(spark, scale_dir, tmp_path):
    """r15 verdict item 3, the wall: the RAG keyword endpoint's dense
    constituent served from the IVF-PQ index (n_probe=8 of 64 lists)
    instead of the brute float scan, on a 500-query batch against the
    20k-vector fixture. Assertions pin the DETERMINISTIC cost model --
    probed candidate volume is a small fraction of the brute 500 x
    20k pair volume through the SAME endpoint plumbing -- plus output
    shape and top-k overlap vs brute; walls are printed for the
    PLANS.md ledger (single-run walls on this VM swing 3x)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        _dvec,
        ivf_probe_rank,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_keyword_batches,
        write_bm25_index,
        write_dense_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table, spread

    embs = spread(
        spark.read.parquet(f"{scale_dir}/embeddings.parquet"), spark
    )
    n_corpus = embs.count()
    assert n_corpus >= 20_000

    # lexical side: a real (small) BM25 root; the 500 queries miss its
    # vocabulary, so the endpoint degrades to dense-only per query --
    # the wall isolates the dense constituent, which is the r15 claim
    bmidx = write_bm25_index(
        load_table(spark, "/root/testdata/sf0.01", "documents"),
        str(tmp_path / "bm"),
    )
    postings = spark.read.parquet(bmidx + "/postings")
    stats = spark.read.parquet(bmidx + "/stats")

    t0 = time.perf_counter()
    pidx = write_dense_index(
        embs, str(tmp_path / "ivfpq"), "ivfpq", n_lists=64, n_subspaces=8
    )
    build_s = time.perf_counter() - t0

    qids = [i * 37 % n_corpus for i in range(500)]
    emb_map = {
        r["vec_id"]: list(r["embedding"])
        for r in embs.filter(F.col("vec_id").isin(qids)).collect()
    }
    qrows = [
        (i, "zzznotavocabterm", emb_map[qids[i]]) for i in range(500)
    ]
    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        qrows, "query_id long, keywords string, embedding array<double>"
    ).coalesce(1).write.parquet(qdir)

    def _qstream():
        return (
            spark.readStream.schema(
                "query_id long, keywords string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )

    # brute-dense form: 500 x 20k exact cosine pairs
    brute_vecs = embs.select("vec_id", "label", _dvec("embedding").alias("vec"))
    out_brute = str(tmp_path / "fused_brute")
    t0 = time.perf_counter()
    hybrid_rrf_keyword_batches(
        _qstream(), postings, stats, brute_vecs, out_brute,
        checkpoint=str(tmp_path / "ckb"),
    ).awaitTermination(600)
    brute_s = time.perf_counter() - t0

    # ANN-backed form at the serving budget (1/8 of the lists)
    out_ann = str(tmp_path / "fused_ann")
    t0 = time.perf_counter()
    hybrid_rrf_keyword_batches(
        _qstream(), postings, stats, None, out_ann,
        checkpoint=str(tmp_path / "cka"),
        ann_index_path=pidx, n_probe=8,
    ).awaitTermination(600)
    ann_s = time.perf_counter() - t0

    # deterministic cost model: candidate pair volume through the
    # probed cells is a small fraction of brute's 500 * n_corpus
    cells = spark.read.parquet(pidx + "/cells")
    cents = spark.read.parquet(pidx + "/centroids")
    qdf = spark.read.parquet(qdir).select(
        "query_id", _dvec("embedding").alias("qvec")
    )
    sizes = cells.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    probed_vol = (
        ivf_probe_rank(qdf, cents, 8)
        .join(sizes, F.col("probe_cluster") == F.col("cluster"))
        .agg(F.sum("n"))
        .first()[0]
    )
    frac = probed_vol / (500 * n_corpus)
    assert frac < 0.3, f"probe budget not pruning: {frac:.3f}"

    # shape + quality: every query answered, all dense-only rows, and
    # the served top-k largely agrees with brute (recall through the
    # shortlist re-rank; exact parity is pinned at full budget in
    # test_streaming.py)
    brute_out = spark.read.parquet(out_brute).collect()
    ann_out = spark.read.parquet(out_ann).collect()
    b_by_q, a_by_q = {}, {}
    for r in brute_out:
        assert r["lex_rank"] is None
        b_by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in ann_out:
        assert r["lex_rank"] is None
        a_by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert len(a_by_q) == 500 and len(b_by_q) == 500
    overlap = sum(
        len(a_by_q[q] & b_by_q[q]) / len(b_by_q[q]) for q in b_by_q
    ) / 500
    assert overlap >= 0.6, f"serving recall collapsed: {overlap:.3f}"

    print(
        f"\nHYBRID ANN-dense canary: ivfpq build {build_s:.1f}s, 500-query "
        f"batch brute {brute_s:.1f}s vs ann {ann_s:.1f}s at candidate "
        f"fraction {frac:.3f}, top-k overlap {overlap:.3f}"
    )


def test_ivf_matryoshka_composes_budgets_at_10x(spark, scale_dir, tmp_path):
    """r15 verdict item 6, the wall: prefix-width cells under IVF
    partition pruning multiply the two serving budgets -- the probe
    scans ~n_probe/n_lists of the partitions AND probe_dim/dim of the
    float bytes in them, where the pure matryoshka coarse stage reads
    the prefix of EVERY corpus row. Pins the deterministic budget
    model (probed-row fraction; the byte ratio is structural in the
    artifact) and serving quality vs brute; walls printed for the
    PLANS.md ledger (single-run walls swing 3x on this VM)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        EMBEDDING_DIM,
        _dvec,
        ivf_probe_rank,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _dense_cosine_topk,
        dense_topk_batches,
        write_dense_index,
    )
    from big_data_streaming_dashboard_spark.tables import spread

    embs = spread(
        spark.read.parquet(f"{scale_dir}/embeddings.parquet"), spark
    )
    n_corpus = embs.count()
    assert n_corpus >= 20_000
    probe_dim, n_lists, n_probe, k = 16, 64, 8, 10

    t0 = time.perf_counter()
    cidx = write_dense_index(
        embs, str(tmp_path / "ivfmat"), "ivfmat",
        n_lists=n_lists, probe_dim=probe_dim,
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    midx = write_dense_index(
        embs, str(tmp_path / "mat"), "matryoshka", probe_dim=probe_dim
    )
    mat_build_s = time.perf_counter() - t0

    qids = [i * 37 % n_corpus for i in range(500)]
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id").isin(qids)).select(
        "vec_id", "label", "embedding"
    ).coalesce(1).write.parquet(qdir)
    n_queries = spark.read.parquet(qdir).count()

    def _qstream():
        return (
            spark.readStream.schema(
                "vec_id long, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )

    # pure matryoshka: full-corpus prefix scan per batch (bytes win only)
    out_m = str(tmp_path / "out_mat")
    t0 = time.perf_counter()
    dense_topk_batches(
        _qstream(), midx, out_m, k=k, checkpoint=str(tmp_path / "ckm"),
    ).awaitTermination(600)
    mat_probe_s = time.perf_counter() - t0

    # composed: n_probe/n_lists of the partitions x probe_dim/dim bytes
    out_c = str(tmp_path / "out_ivfmat")
    t0 = time.perf_counter()
    dense_topk_batches(
        _qstream(), cidx, out_c, k=k, n_probe=n_probe,
        checkpoint=str(tmp_path / "ckc"),
    ).awaitTermination(600)
    comp_probe_s = time.perf_counter() - t0

    # deterministic budget model: probed candidate rows are a small
    # fraction of the matryoshka coarse stage's n_queries * n_corpus
    cells = spark.read.parquet(cidx + "/cells")
    sizes = cells.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    qdf = spark.read.parquet(qdir).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qvec")
    )
    probed_vol = (
        ivf_probe_rank(qdf, spark.read.parquet(cidx + "/centroids"), n_probe)
        .join(sizes, F.col("probe_cluster") == F.col("cluster"))
        .agg(F.sum("n"))
        .first()[0]
    )
    frac = probed_vol / (n_queries * n_corpus)
    assert frac < 0.3, f"cell pruning not composing: {frac:.3f}"
    assert len(cells.select("vp").first()["vp"]) == probe_dim  # byte ratio

    # serving quality: top-k overlap vs exact brute force
    brute = _dense_cosine_topk(
        spark.read.parquet(qdir), embs.select(
            "vec_id", "label", _dvec("embedding").alias("vec")
        ), k,
    )
    b_by_q, c_by_q = {}, {}
    for r in brute.collect():
        b_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in spark.read.parquet(out_c).collect():
        c_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert len(c_by_q) == n_queries
    recall = sum(
        len(c_by_q[q] & b_by_q[q]) / len(b_by_q[q]) for q in b_by_q
    ) / len(b_by_q)
    assert recall >= 0.6, f"composed recall collapsed: {recall:.3f}"

    print(
        f"\nIVF-MATRYOSHKA canary: build {build_s:.1f}s (mat {mat_build_s:.1f}s), "
        f"{n_queries}-query batch matryoshka {mat_probe_s:.1f}s vs composed "
        f"{comp_probe_s:.1f}s at cell fraction {frac:.3f} x width "
        f"{probe_dim}/{EMBEDDING_DIM} bytes, recall@{k} {recall:.3f}"
    )


def test_ivf_quant_composes_budgets_at_10x(spark, scale_dir, tmp_path):
    """The third multiplied budget pair, measured: b-bit codes under
    IVF cell pruning (n_probe/n_lists of the partitions x ~1/8 of the
    bytes) vs the pure quant full-corpus code scan. Pins the
    deterministic cost model (probed-row fraction; the byte ratio is
    structural -- tinyint codes either way) and serving quality vs
    exact brute force; walls printed for the PLANS.md ledger
    (single-run walls swing 3x on this VM)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        _dvec,
        ivf_probe_rank,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _dense_cosine_topk,
        dense_topk_batches,
        write_dense_index,
    )
    from big_data_streaming_dashboard_spark.tables import spread

    embs = spread(
        spark.read.parquet(f"{scale_dir}/embeddings.parquet"), spark
    )
    n_corpus = embs.count()
    assert n_corpus >= 20_000
    n_lists, n_probe, k = 64, 8, 10

    t0 = time.perf_counter()
    cidx = write_dense_index(
        embs, str(tmp_path / "ivfquant"), "ivfquant", n_lists=n_lists
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    qidx = write_dense_index(embs, str(tmp_path / "quant"), "quant")
    q_build_s = time.perf_counter() - t0

    qids = [i * 37 % n_corpus for i in range(500)]
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id").isin(qids)).select(
        "vec_id", "label", "embedding"
    ).coalesce(1).write.parquet(qdir)
    n_queries = spark.read.parquet(qdir).count()

    def _qstream():
        return (
            spark.readStream.schema(
                "vec_id long, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )

    out_q = str(tmp_path / "out_quant")
    t0 = time.perf_counter()
    dense_topk_batches(
        _qstream(), qidx, out_q, k=k, checkpoint=str(tmp_path / "ckq"),
    ).awaitTermination(600)
    quant_probe_s = time.perf_counter() - t0

    out_c = str(tmp_path / "out_ivfquant")
    t0 = time.perf_counter()
    dense_topk_batches(
        _qstream(), cidx, out_c, k=k, n_probe=n_probe,
        checkpoint=str(tmp_path / "ckc"),
    ).awaitTermination(600)
    comp_probe_s = time.perf_counter() - t0

    cells = spark.read.parquet(cidx + "/cells")
    sizes = cells.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    qdf = spark.read.parquet(qdir).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qvec")
    )
    probed_vol = (
        ivf_probe_rank(qdf, spark.read.parquet(cidx + "/centroids"), n_probe)
        .join(sizes, F.col("probe_cluster") == F.col("cluster"))
        .agg(F.sum("n"))
        .first()[0]
    )
    frac = probed_vol / (n_queries * n_corpus)
    assert frac < 0.3, f"cell pruning not composing: {frac:.3f}"

    brute = _dense_cosine_topk(
        spark.read.parquet(qdir), embs.select(
            "vec_id", "label", _dvec("embedding").alias("vec")
        ), k,
    )
    b_by_q, c_by_q = {}, {}
    for r in brute.collect():
        b_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in spark.read.parquet(out_c).collect():
        c_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert len(c_by_q) == n_queries
    recall = sum(
        len(c_by_q[q] & b_by_q[q]) / len(b_by_q[q]) for q in b_by_q
    ) / len(b_by_q)
    assert recall >= 0.6, f"composed recall collapsed: {recall:.3f}"

    print(
        f"\nIVF-QUANT canary: build {build_s:.1f}s (quant {q_build_s:.1f}s), "
        f"{n_queries}-query batch quant {quant_probe_s:.1f}s vs composed "
        f"{comp_probe_s:.1f}s at cell fraction {frac:.3f} x tinyint bytes, "
        f"recall@{k} {recall:.3f}"
    )


def test_bm25_ten_append_root_compacts_to_scan_sized_buckets(
    spark, tmp_path
):
    """r16 verdict item 6: a LONG-APPENDED BM25 root accumulates one
    file generation per append in every touched term_bucket dir (plus
    one stats row per generation), so the rare-term probe's per-bucket
    scan cost grows with APPEND COUNT, not data size -- the exact
    failure LSM compaction exists for. This pins the 10-append case
    on the Zipf corpus: compaction collapses every bucket back to
    scan-sized files (the deterministic cost proxy -- walls on this
    VM swing 3x, file counts don't), merges the stats log to one row
    with the torn-window stamp preserved at its SUM, and the
    rare-term probe returns row-for-row the same answer through the
    rewritten fileset (compact-then-probe, extended to the
    multi-append root)."""
    import glob

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_bm25_index,
        bm25_topk_batches,
        compact_serving_index,
        index_fingerprint,
        stream_keyword_queries,
        write_bm25_index,
    )

    from .scale10x import ZIPF_DOCS, ensure_zipf_corpus

    docs = spark.read.parquet(ensure_zipf_corpus(spark))
    idx = str(tmp_path / "bm")
    # generation 0 + ten appends over disjoint doc_id slices
    slice_w = ZIPF_DOCS // 11
    write_bm25_index(docs.filter(F.col("doc_id") < slice_w), idx)
    for g in range(1, 11):
        lo, hi = g * slice_w, (g + 1) * slice_w if g < 10 else ZIPF_DOCS
        append_bm25_index(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx,
        )

    def files_per_bucket():
        counts = {}
        for d in glob.glob(idx + "/postings/term_bucket=*"):
            counts[d.rsplit("=", 1)[1]] = len(
                glob.glob(d + "/*.parquet")
            )
        return counts

    before = files_per_bucket()
    # every bucket carries one file generation per touched append --
    # the Zipf head terms land in every generation, so the max is 11
    assert before and max(before.values()) >= 10
    stats = spark.read.parquet(idx + "/stats")
    assert stats.count() == 11
    n_postings_total = spark.read.parquet(idx + "/postings").count()
    assert (
        stats.agg(F.sum("n_postings")).collect()[0][0] == n_postings_total
    )

    # rare-term probe on the appended root (the canary's query shape)
    postings_df = spark.read.parquet(idx + "/postings")
    df_by_term = {
        r["term"]: r["df"]
        for r in postings_df.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    rare_pool = sorted(t for t, d in df_by_term.items() if d <= 200)
    assert len(rare_pool) >= 2_000
    queries = [
        (i, " ".join(rare_pool[(3 * i + j) % len(rare_pool)] for j in range(3)))
        for i in range(200)
    ]
    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        queries, "query_id long, keywords string"
    ).coalesce(1).write.parquet(qdir)

    def probe(tag):
        out = str(tmp_path / f"out_{tag}")
        t0 = time.perf_counter()
        bm25_topk_batches(
            stream_keyword_queries(spark, qdir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            out,
            k=20,
            checkpoint=str(tmp_path / f"ck_{tag}"),
            index_path=idx,
        ).awaitTermination(600)
        wall = time.perf_counter() - t0
        return sorted(map(tuple, spark.read.parquet(out).collect())), wall

    got_before, wall_before = probe("before")
    stamp0 = index_fingerprint(spark, idx)
    compact_serving_index(spark, idx)
    assert index_fingerprint(spark, idx) != stamp0

    after = files_per_bucket()
    # the deterministic scan-cost pin: every bucket collapses to ONE
    # data file (this corpus is far under the 128 MB file target), so
    # a rare-term probe opens one file per probed bucket regardless of
    # how many appends the root has absorbed
    assert set(after) == set(before)
    assert max(after.values()) == 1
    # stats: one merged row, torn stamp preserved at its SUM
    stats2 = spark.read.parquet(idx + "/stats").collect()
    assert len(stats2) == 1
    assert stats2[0]["n_postings"] == n_postings_total
    assert stats2[0]["n_docs"] == ZIPF_DOCS

    got_after, wall_after = probe("after")
    assert got_after == got_before and got_before
    print(
        f"\nBM25 10-append compaction: files/bucket max "
        f"{max(before.values())} -> {max(after.values())}, 200 "
        f"rare-term queries {wall_before:.1f}s -> {wall_after:.1f}s"
    )


@pytest.mark.parametrize("kind", ["matryoshka", "quant"])
def test_knn_serves_plain_byte_budget_kinds_at_10x(
    spark, scale_dir, tmp_path, kind
):
    """r16 verdict item 3, the wall at 10x for the PLAIN kinds: the
    widened `_ann_dense_retriever` serves the knn endpoint from a
    plain matryoshka or quant root, whose coarse stage reads a
    structural fraction of the float bytes (probe_dim/dim of the
    widths, or one tinyint per dim vs an 8-byte double) before the
    shortlist-capped exact re-rank. Pins the deterministic budget
    model -- the stored scan side's byte shape and the shortlist
    fraction -- plus output shape and vote agreement vs the brute
    500 x 20k scan; walls printed for the PLANS.md ledger (single-run
    walls on this VM swing 3x).

    Honest wall expectation, measured at first landing (r17): the
    flat kinds are SLOWER than brute here (matryoshka 24.9 s vs
    16.7 s brute; quant 35.2 s vs 14.2 s; agreement 1.000) -- their
    coarse stage is still a full-corpus pair scan, so on a
    page-cached 20k-vector fixture the byte win buys nothing while
    the shortlist re-rank adds a second join. The flat kinds' win is
    SCAN BYTES, which pays when the corpus streams off object
    storage / exceeds page cache (the 100 TB regime this engine
    targets); the PARTITION-pruned IVF kinds are the wall-clock win
    at serving budgets on cached data (the composed canaries above
    measure 2-3x). This test exists to keep the dispatch honest and
    the vote exact, not to claim a local wall win."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        EMBEDDING_DIM,
        _dvec,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        knn_classify_batches,
        write_dense_index,
    )
    from big_data_streaming_dashboard_spark.tables import spread

    embs = spread(
        spark.read.parquet(f"{scale_dir}/embeddings.parquet"), spark
    )
    n_corpus = embs.count()
    # fixture-size guard (the sibling canaries' rule): a shrunken
    # fixture would cycle the qid derivation below and silently
    # measure a smaller query set
    assert n_corpus >= 20_000

    t0 = time.perf_counter()
    idx = str(tmp_path / kind)
    write_dense_index(
        embs, idx, kind, **({"probe_dim": 16} if kind == "matryoshka" else {})
    )
    build_s = time.perf_counter() - t0

    # structural byte-budget pin on the stored scan side
    if kind == "matryoshka":
        row = spark.read.parquet(idx + "/prefixes").select("vp").first()
        assert len(row["vp"]) == 16 and EMBEDDING_DIM == 64
    else:
        schema = dict(spark.read.parquet(idx + "/codes").dtypes)
        assert schema["q"] == "array<tinyint>"

    qids = [i * 37 % n_corpus for i in range(500)]
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id").isin(qids)).write.parquet(qdir)

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        stream_embeddings,
    )

    def _qstream():
        return stream_embeddings(spark, qdir)

    brute_vecs = embs.select(
        "vec_id", "label", _dvec("embedding").alias("vec")
    )
    out_b = str(tmp_path / "brute")
    t0 = time.perf_counter()
    knn_classify_batches(
        _qstream(), brute_vecs, out_b, k=10,
        checkpoint=str(tmp_path / "ckb"),
    ).awaitTermination(600)
    brute_s = time.perf_counter() - t0

    # served at the family's default shortlist budget (corpus/8)
    out_s = str(tmp_path / "served")
    t0 = time.perf_counter()
    knn_classify_batches(
        _qstream(), None, out_s, k=10,
        checkpoint=str(tmp_path / "cks"),
        ann_index_path=idx,
    ).awaitTermination(600)
    served_s = time.perf_counter() - t0

    # the shortlist fraction is the deterministic budget: corpus/8 of
    # the float rows join the re-rank per query
    frac = max(8 * 10, n_corpus // 8) / n_corpus
    assert frac <= 0.15, f"shortlist budget not a fraction: {frac:.3f}"

    n_q = spark.read.parquet(qdir).count()
    b = {
        r["query_id"]: r["predicted_label"]
        for r in spark.read.parquet(out_b).collect()
    }
    s = {
        r["query_id"]: r["predicted_label"]
        for r in spark.read.parquet(out_s).collect()
    }
    assert len(b) == n_q and len(s) == n_q
    agree = sum(b[q] == s[q] for q in b) / n_q
    assert agree >= 0.6, f"served vote agreement collapsed: {agree:.3f}"

    print(
        f"\nKNN plain-{kind} canary: build {build_s:.1f}s, 500-query "
        f"batch brute {brute_s:.1f}s vs served {served_s:.1f}s at "
        f"shortlist fraction {frac:.3f}, vote agreement {agree:.3f}"
    )
