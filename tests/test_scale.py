"""Scale-strategy tests: skew salting, bucketed co-located joins,
streaming checkpoint recovery (the 100-TB design claims, exercised)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from big_data_streaming_dashboard_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_left,
)


def test_salted_aggregate_matches_plain(spark):
    """Two-phase salted agg == plain agg, exactly (algebraic merges)."""
    df = spark.range(0, 20000).select(
        (F.col("id") % 7).alias("k"),  # skew: key 0 also gets a hot burst
        (F.col("id") % 1000).alias("v"),
    )
    hot = spark.range(0, 30000).select(F.lit(0).alias("k"), F.lit(5).alias("v"))
    df = df.unionByName(hot)
    plain = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
            n_salts=16,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    big = spark.range(0, 5000).select(
        (F.when(F.col("id") % 10 < 8, 1).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim")
    )
    plain = sorted(
        (r["k"], r["payload"], r["dim"]) for r in big.join(small, "k").collect()
    )
    salted = sorted(
        (r["k"], r["payload"], r["dim"])
        for r in salted_broadcast_left(big, small, "k", n_salts=8).collect()
    )
    assert salted == plain


def test_dim_broadcast_hint_survives_threshold(spark):
    """With autoBroadcastJoinThreshold=-1 (fact tables too big to
    broadcast -- the 100 TB case), the star join degrades to
    SortMergeJoin on the fact keys while explicit F.broadcast hints
    keep nation/region as BroadcastHashJoin. Never a nested loop."""
    import re

    from big_data_streaming_dashboard_spark.plans.relational import (
        revenue_by_nation,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = revenue_by_nation(spark, "/root/testdata/sf0.001")
        expl = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        joins = re.findall(
            r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct",
            expl,
        )
        assert joins.count("BroadcastHashJoin") == 2, joins  # the 2 dims
        assert "BroadcastNestedLoopJoin" not in joins, joins
        assert "CartesianProduct" not in joins, joins
        assert len(df.collect()) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketing co-locates join keys: the bucketed-bucketed equi-join
    plans with NO shuffle exchange on either side."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ta, tb = f"ba_{uuid.uuid4().hex[:6]}", f"bb_{uuid.uuid4().hex[:6]}"
    try:
        a = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        a.write.bucketBy(8, "k").sortBy("k").saveAsTable(ta)
        b.write.bucketBy(8, "k").sortBy("k").saveAsTable(tb)
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() == 10000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_approx_aggregates_error_bounded(spark):
    """approx_count_distinct within its documented ~2-5% rsd of exact;
    approx median within the quantile neighborhood."""
    from big_data_streaming_dashboard_spark.plans.relational2 import approx_aggregates

    rows = approx_aggregates(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert abs(r["approx_orders"] - r["exact_orders"]) <= 0.1 * r["exact_orders"]
        assert r["approx_median_price"] > 0


def test_streaming_checkpoint_recovery(spark, tmp_path):
    """W10: a restarted query resumes from the checkpoint -- already-
    processed files are not re-emitted, new files are."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")  # memory sink can't recover; file sink can

    def write_batch(lo, hi):
        spark.range(lo, hi).select(F.col("id")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("id long").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(0, 100)
    run()
    assert spark.read.parquet(out).count() == 100
    write_batch(100, 150)
    run()
    # restart resumed from the checkpoint: new file appended exactly
    # once, no reprocessing of the first 100 rows
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(150))


def test_neardup_bucket_cap_bounds_degenerate_band(spark):
    """A boilerplate corpus (every doc identical) collapses all LSH
    bands into single buckets -- uncapped, 200 docs would self-join
    into 19,900 candidate pairs per band. With the cap the quadratic
    set never materializes and the dropped buckets are observable."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_pairs,
        oversized_buckets,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate template text repeated everywhere").alias(
            "text"
        ),
    )
    capped = neardup_pairs(docs, max_bucket_size=50)
    assert capped.count() == 0  # every bucket oversized -> no pairs
    dropped = oversized_buckets(docs, max_bucket_size=50).collect()
    assert len(dropped) == 4  # one degenerate bucket per band
    assert all(r["n_docs"] == 200 for r in dropped)
    # a mixed corpus: the boilerplate cluster is dropped, the real
    # near-dup pair in the tail still comes through
    mixed = docs.unionByName(
        spark.createDataFrame(
            [
                (1000, "alpha beta gamma delta epsilon zeta eta theta"),
                (1001, "alpha beta gamma delta epsilon zeta eta iota"),
            ],
            "doc_id long, text string",
        )
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(mixed, max_bucket_size=50).collect()
    }
    assert (1000, 1001) in pairs
    assert all(a >= 1000 for a, _ in pairs)  # no boilerplate pairs


def test_sql_surface_matches_dataframe_plans(spark):
    """The engine's SQL surface: register_views exposes every fixture
    table to spark.sql, and ANSI SQL text produces the same results as
    the DataFrame registry plans."""
    from big_data_streaming_dashboard_spark.plans import QUERIES
    from big_data_streaming_dashboard_spark.tables import TABLE_NAMES, register_views

    sf = "/root/testdata/sf0.01"
    register_views(spark, sf)
    for t in TABLE_NAMES:
        assert spark.table(t).count() >= 0, t

    sql_rows = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """).collect()
    df_rows = {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["count_order"])
        for r in QUERIES["pricing_summary"].fn(spark, sf).collect()
    }
    assert len(sql_rows) == len(df_rows)
    for r in sql_rows:
        got = df_rows[(r["l_returnflag"], r["l_linestatus"])]
        assert (r["sum_qty"], r["count_order"]) == got


def test_ngram_jaccard_df_cap_bounds_template_shingles(spark):
    """Inverted-index analog of the LSH bucket-cap guard: 200
    identical boilerplate docs share every shingle, so uncapped
    postings would self-join into ~19,900 pairs per shingle. With the
    document-frequency cap the template cluster generates no
    candidates, while a genuine near-dup pair in the tail (whose
    shingles are rare) still comes through with its exact Jaccard."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
    )

    boiler = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate template text repeated everywhere").alias(
            "text"
        ),
    )
    assert (
        ngram_jaccard_pairs(boiler, threshold=0.0, max_postings=50).count() == 0
    )

    mixed = boiler.unionByName(
        spark.createDataFrame(
            [
                (1000, "alpha beta gamma delta epsilon zeta eta theta"),
                (1001, "alpha beta gamma delta epsilon zeta eta iota"),
            ],
            "doc_id long, text string",
        )
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            mixed, threshold=0.3, max_postings=50
        ).collect()
    }
    # 8 tokens -> 6 trigrams each, 5 shared -> jaccard 5/7
    assert pairs == {(1000, 1001): round(5 / 7, 6)}


def test_clear_engine_caches(spark):
    """Cache hygiene: every engine-level cache entry lives in the one
    session cache (`physical`). Clearing it empties it, releases
    persisted stages, and queries rebuild cleanly."""
    from big_data_streaming_dashboard_spark import physical
    from big_data_streaming_dashboard_spark.plans import registry as _reg
    from big_data_streaming_dashboard_spark import tables as _tables

    from .conftest import SF_SMOKE as sf

    # populate: a stage-cached query (bronze, validator columns, silver),
    # a table load, a near-dup query (band index, plan cache) and a
    # corpus count
    _reg.QUERIES["silver_validate"].fn(spark, sf).count()
    docs = _tables.load_table(spark, sf, "documents")
    _reg.QUERIES["doc_neardup_pairs"].fn(spark, sf).count()
    assert physical.corpus_count(docs) > 0
    tags = {key[0] for _app, key, _version in physical._CACHE}
    assert {"silver", "bronze", "validator", "table", "count"} <= tags, tags
    assert any(t.startswith("band:") for t in tags), tags
    silver = physical.session_cached(spark, ("silver", sf), lambda: None)
    assert silver.is_cached
    n = _reg.clear_engine_caches()
    assert n >= len(tags)
    assert not physical._CACHE
    assert not silver.is_cached
    # rebuild works after the purge
    assert _reg.QUERIES["silver_validate"].fn(spark, sf).count() > 0


def test_session_cache_drops_other_applications_and_rewrites(spark):
    """An entry stamped with another applicationId is dropped on the
    next miss without an unpersist (its session and JVM cache are
    gone); an entry replaced by a rewrite of the same input (same key,
    new version) is unpersisted; a hit never rebuilds."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from big_data_streaming_dashboard_spark import physical

    foreign = mock.Mock(spec=DataFrame)
    gone = ("app-of-a-stopped-session", ("stage", "sf"), None)
    physical._CACHE[gone] = foreign
    old = mock.Mock(spec=DataFrame)
    key = ("cache-test", 1)
    try:
        assert physical.session_cached(spark, key, lambda: old, version=1) is old
        assert gone not in physical._CACHE
        foreign.unpersist.assert_not_called()
        new = mock.Mock(spec=DataFrame)
        assert physical.session_cached(spark, key, lambda: [new], version=2) == [new]
        old.unpersist.assert_called_once()
        assert physical.session_cached(spark, key, lambda: 1 / 0, version=2) == [new]
        new.unpersist.assert_not_called()
    finally:
        for k in [k for k in physical._CACHE if k[1] == key]:
            del physical._CACHE[k]
