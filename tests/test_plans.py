"""Physical-plan regression tests: the plan SHAPES the engine's scale
story depends on (PLANS.md evidence), pinned so they cannot silently
regress -- pushdown reaching the scan, pruned ReadSchema, top-k as
TakeOrderedAndProject, multi-distinct via Expand, no Python stage in
JVM-only operators."""

from __future__ import annotations

from .conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_promo_q14_pushdown_and_projected_part(spark):
    from big_data_streaming_dashboard_spark.plans.relational3 import (
        promo_revenue_share,
    )

    p = _plan(promo_revenue_share(spark, SF_ORACLE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p  # date at the scan
    # part scan pruned to the 2 columns the join needs
    assert "ReadSchema: struct<p_partkey:bigint,p_type:string>" in p


def test_returned_q10_takeordered_and_pushed_flag(spark):
    from big_data_streaming_dashboard_spark.plans.relational3 import (
        returned_top_customers,
    )

    p = _plan(returned_top_customers(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p  # per-partition heaps, no sort
    assert "EqualTo(l_returnflag,R)" in p  # filter at the fact scan


def test_brand_q16_expand_two_phase_distinct(spark):
    from big_data_streaming_dashboard_spark.plans.relational3 import (
        brand_supplier_variety,
    )

    p = _plan(brand_supplier_variety(spark, SF_ORACLE))
    assert "Expand" in p  # multi-count-distinct partial de-dup shape


def test_pricing_summary_scan_pruning(spark):
    from big_data_streaming_dashboard_spark.plans.relational import (
        pricing_summary,
    )

    p = _plan(pricing_summary(spark, SF_ORACLE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # 7-of-11 column projection reaches the parquet scan (the dump
    # truncates long schemas -- assert the untruncated prefix and the
    # absence of a pruned-away column)
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_tax:double" in p
    )
    assert "l_orderkey" not in p.split("ReadSchema", 1)[1][:200]


def test_revenue_star_broadcasts_dims_only(spark):
    from big_data_streaming_dashboard_spark.plans.relational import (
        revenue_by_nation,
    )

    p = _plan(revenue_by_nation(spark, SF_ORACLE))
    # O(100)-row dims broadcast; the fact join is NOT a broadcast of a
    # fact-sized side (nation/region appear under BroadcastExchange)
    assert p.count("BroadcastExchange") >= 2
    assert "nation" in p and "region" in p


def test_jvm_only_operators_have_no_python_stage(spark):
    """chunk_spans, domain_cap, audio_windows and frame_sample are
    declared JVM-only (docstrings say no Python stage) -- pin it: no
    Arrow/Python eval nodes in their plans."""
    from big_data_streaming_dashboard_spark.llmdata.multimodal import (
        audio_windows,
        frame_sample,
        synthetic_media,
    )
    from big_data_streaming_dashboard_spark.llmdata.text import chunk_spans
    from big_data_streaming_dashboard_spark.plans.registry import _docs
    from big_data_streaming_dashboard_spark.plans.relational3 import domain_cap

    docs = _docs(spark, SF_ORACLE)
    media = synthetic_media(spark, n=6)
    for df in (
        chunk_spans(docs),
        domain_cap(docs),
        audio_windows(media),
        frame_sample(media),
    ):
        p = _plan(df)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
        assert "MapInPandas" not in p


def test_recent_points_takeordered(spark):
    """W8 recency retention compiles to TakeOrderedAndProject (the
    serving cap shape), not a global Sort."""
    from big_data_streaming_dashboard_spark.plans.registry import (
        _points,
        q_recent_points,
    )

    _points(spark, SF_ORACLE)  # warm shared stage
    p = _plan(q_recent_points(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p


def test_vocab_coverage_takeordered_before_window(spark):
    """The vocab head is bounded by TakeOrderedAndProject BEFORE the
    cumulative window -- never a single-partition window over the full
    vocabulary."""
    from big_data_streaming_dashboard_spark.llmdata.text import vocab_coverage
    from big_data_streaming_dashboard_spark.plans.registry import _docs

    p = _plan(vocab_coverage(_docs(spark, SF_ORACLE)))
    assert "TakeOrderedAndProject" in p
    # the window input is the k-row head, so its sort is trivial; the
    # full-vocab relation reaches only the count aggregate
    assert p.index("TakeOrderedAndProject") > p.index("Window")


def test_bench_lists_fail_fast_on_dangling_names():
    """bench.py's HEADLINE/EXTRA/TENX lists carry the same
    import-time guard as registry.DRIVER_WINDOW: a dangling name dies
    at module load, never mid-way through the driver's bench run (the
    r9 failure class). Positive: the real module imports. Negative: a
    tampered copy with an unknown name raises at exec."""
    import sys
    import types

    sys.path.insert(0, "/root/repo")
    import bench  # noqa: F401  (positive: import succeeds)

    src = open("/root/repo/bench.py").read().replace(
        "TENX = [", 'TENX = [\n    "no_such_query",', 1
    )
    mod = types.ModuleType("bench_tampered")
    mod.__file__ = "/root/repo/bench.py"
    try:
        exec(compile(src, "bench.py", "exec"), mod.__dict__)
        raise AssertionError("dangling TENX name did not fail at load")
    except RuntimeError as e:
        assert "no_such_query" in str(e)

    # r12 (r11 ADVICE): a TENX_REPS key whose query is renamed or
    # rotated out of TENX would silently lose its rep override -- the
    # cold/warm comparability the reps exist for. Same fail-at-import.
    src = open("/root/repo/bench.py").read().replace(
        '"doc_ngram_jaccard",\n', "", 1
    )
    assert 'doc_ngram_jaccard": 2' in src  # still a TENX_REPS key
    mod = types.ModuleType("bench_tampered2")
    mod.__file__ = "/root/repo/bench.py"
    try:
        exec(compile(src, "bench.py", "exec"), mod.__dict__)
        raise AssertionError("orphan TENX_REPS key did not fail at load")
    except RuntimeError as e:
        assert "doc_ngram_jaccard" in str(e)

    # r13 (r12 verdict item 3): TENX_COLD_REPS gets the same guard --
    # the containment entry is last in TENX, so drop that trailing
    # entry and the cold-reps key orphans
    src = open("/root/repo/bench.py").read().replace(
        '    "doc_containment_pairs",\n]', "]", 1
    )
    assert 'doc_containment_pairs": 2' in src  # still a TENX_COLD_REPS key
    mod = types.ModuleType("bench_tampered3")
    mod.__file__ = "/root/repo/bench.py"
    try:
        exec(compile(src, "bench.py", "exec"), mod.__dict__)
        raise AssertionError("orphan TENX_COLD_REPS key did not fail at load")
    except RuntimeError as e:
        assert "TENX_COLD_REPS" in str(e) and "doc_containment_pairs" in str(e)


def test_bench_sf10x_load_gate_settles_and_annotates(monkeypatch):
    """r18 (r17 verdict item 3): the sf10x per-rep load gate. Three
    behaviors pinned: (1) above-threshold external load sleeps in
    15 s slices off the SHARED block budget until it decays, and the
    stamp records the settle plus the load the rep actually started
    at; (2) a quiet box passes through without sleeping; (3) a box
    still loaded when the budget runs out is stamped contended:true
    (the cross-round discard marker) rather than waited on forever --
    the bench must fit the driver's ~10-minute envelope."""
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    slept: list[float] = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))

    # (1) loaded then decays after one slice
    seq = iter([7.0, 0.5])
    monkeypatch.setattr(bench, "_external_runnable", lambda: next(seq))
    budget = [bench.TENX_SETTLE_BUDGET_S]
    stamp = bench._rep_load_gate(budget)
    assert slept == [15.0] and budget[0] == bench.TENX_SETTLE_BUDGET_S - 15
    assert stamp["ext_runnable"] == 0.5 and stamp["settle_s"] == 15.0
    assert "contended" not in stamp

    # (2) quiet box: no sleep, no settle key
    slept.clear()
    monkeypatch.setattr(bench, "_external_runnable", lambda: 0.0)
    stamp = bench._rep_load_gate(budget)
    assert slept == [] and "settle_s" not in stamp and "contended" not in stamp

    # (3) persistently loaded: budget drains, contended annotated
    # (after a CONFIRMING second sample -- one own-JVM spike window
    # must not mark a draw for cross-round discard)
    slept.clear()
    monkeypatch.setattr(bench, "_external_runnable", lambda: 9.0)
    budget = [30.0]
    stamp = bench._rep_load_gate(budget)
    assert budget[0] == 0 and sum(slept) == 30.0
    assert stamp["contended"] is True and stamp["ext_runnable"] == 9.0

    # (3b) a spike that does NOT confirm is stamped at the calmer
    # confirm value with no contended marker
    slept.clear()
    seq2 = iter([5.0, 0.8])  # budget already 0: first sample, confirm
    monkeypatch.setattr(bench, "_external_runnable", lambda: next(seq2))
    stamp = bench._rep_load_gate([0.0])
    assert stamp["ext_runnable"] == 0.8 and "contended" not in stamp

    # (4) the size-metric parser handles both observed SQLMetric
    # display shapes: plain totals and the header + value form the
    # status store emits for per-task size metrics
    assert bench._parse_size("19.6 KiB (4.9 KiB, 4.9 KiB, 4.9 KiB)") == (
        19.6 * 1024
    )
    two_line = (
        "total (min, med, max (stageId: taskId))\n"
        "2.2 GiB (1.1 MiB, 2.3 MiB, 5.0 MiB (stage 3.0: task 7))"
    )
    assert bench._parse_size(two_line) == 2.2 * (1 << 30)


def test_value_anomalies_decimal_exactness_and_loud_overflow(spark):
    """r12 (r11 ADVICE): the z-test arithmetic claims (a) every
    product is DECIMAL(19,0) x DECIMAL(19,0) -> DECIMAL(38,0), exact
    for ANY pair of BIGINTs, and (b) the one term that can exceed 38
    digits raises in-plan instead of becoming a non-ANSI NULL that
    silently drops anomalies. Pin both: (a) max-long squared through
    the exact cast path equals the true integer; (b) a d-term past
    the 1.5e18 guard raises with the documented message."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    # (a) exactness at the extreme of the documented bound
    big = 9223372036854775807  # max BIGINT
    [(got,)] = (
        spark.range(1)
        .select(
            (
                F.lit(big).cast("decimal(19,0)")
                * F.lit(big).cast("decimal(19,0)")
            ).alias("sq")
        )
        .collect()
    )
    assert int(got) == big * big  # 8.5e37 < 1e38: exact, no NULL

    # (b) the extracted predicate on literal BIGINT aggregates: a
    # d-term past the 1.5e18 guard raises with the documented message
    # (pinning this through value_anomalies itself would need a
    # ~10^12-row window -- exactly why the helper exists)
    import pytest

    from big_data_streaming_dashboard_spark.plans.relational4 import (
        _anomaly_z_predicate,
    )

    def probe(n, v, s, ss):
        df = spark.createDataFrame(
            [(n, v, s, ss)], "_n long, _v long, _s long, _ss long"
        )
        return df.filter(
            _anomaly_z_predicate(
                F.col("_n"), F.col("_v"), F.col("_s"), F.col("_ss")
            )
        ).collect()

    # in-bound: n=100, v=300, s=10000 (mean 100), ss=5_000_000
    # d = 100*300 - 10000 = 20000; 4*d^2 = 1.6e9
    # varn = 100*5e6 - 1e8 = 4e8; 9*varn = 3.6e9 -> not an anomaly
    assert probe(100, 300, 10_000, 5_000_000) == []
    # flipped: v=1000 -> d = 90000; 4*d^2 = 3.24e10 > 3.6e9 -> anomaly
    assert len(probe(100, 1_000, 10_000, 5_000_000)) == 1
    # past the bound: n=2e12, v=1e6 -> d = 2e18 >= 1.5e18 -> loud
    with pytest.raises(Exception, match="exceeds the exact-"):
        probe(2_000_000_000_000, 1_000_000, 0, 1)


def test_r12_decision_support_plan_shapes(spark):
    """Round-12 additions, pinned to the physical shapes their
    docstrings claim: Q4 is a LEFT SEMI (no fact multiplication +
    distinct), Q18's top-k is TakeOrderedAndProject, and Q19's
    hand-derived envelopes reach BOTH scans as pushed filters
    (Catalyst cannot factor the cross-table OR itself)."""
    from big_data_streaming_dashboard_spark.plans.relational5 import (
        disjunctive_brand_revenue,
        large_volume_orders,
        order_priority_exists,
        sole_late_supplier,
    )

    p = _plan(order_priority_exists(spark, SF_ORACLE))
    assert "LeftSemi" in p

    p = _plan(large_volume_orders(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p

    p = _plan(disjunctive_brand_revenue(spark, SF_ORACLE))
    assert "In(p_brand, [Brand#1,Brand#2,Brand#3])" in p  # part scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in p  # fact scan

    # Q21's decorrelation, r18 form: ONE fact scan -- the sole late
    # supplier is recovered inside the per-order aggregate
    # (min==max of the late suppkey), so the late-line join-back
    # branch (the old second scan + SMJ) is gone entirely
    p = _plan(sole_late_supplier(spark, SF_ORACLE))
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")
    assert "SortMergeJoin" not in p


def test_r13_decision_support_plan_shapes(spark):
    """Round-13 additions (the Q5/Q2/Q11/Q6 classes completing the
    classic catalog), pinned to the physical shapes their docstrings
    claim: Q6's three predicates all reach the lineitem scan as
    pushed filters over a pruned read schema; Q5's same-nation
    equality rides IN the supplier join (no cross-nation intermediate
    filtered after the fact); Q2's floor is a window MIN over the
    quote aggregate (fact scanned once); Q11's global total
    re-aggregates the part-sized frame (fact scanned once, broadcast
    1-row join back)."""
    from big_data_streaming_dashboard_spark.plans.relational6 import (
        discount_band_revenue,
        local_supplier_volume,
        national_part_share,
        regional_min_quote,
    )

    # plan toString truncates PushedFilters at 100 chars by default --
    # widen it so the full pushed list is assertable
    meta_key = "spark.sql.maxMetadataStringLength"
    old_len = spark.conf.get(meta_key)
    spark.conf.set(meta_key, "4000")
    try:
        p = _plan(discount_band_revenue(spark, SF_ORACLE))
        assert "GreaterThanOrEqual(l_discount,0.04)" in p
        assert "LessThanOrEqual(l_discount,0.06)" in p
        assert "LessThan(l_quantity,24.0)" in p
        # column pruning: the scan reads only the 4 needed columns
        for unneeded in ("l_orderkey", "l_returnflag", "l_tax"):
            assert f"{unneeded}:" not in p.split("ReadSchema")[1].split("\n")[0]
    finally:
        spark.conf.set(meta_key, old_len)

    p = _plan(local_supplier_volume(spark, SF_ORACLE))
    # the same-nation equality is a JOIN key (appears in a join's key
    # list beside the suppkey equality), not a post-join Filter
    assert "s_suppkey" in p and "cust_nationkey" in p
    joins = [
        ln
        for ln in p.splitlines()
        if "Join" in ln and "s_suppkey" in ln and "s_nationkey" in ln
    ]
    assert joins, p

    p = _plan(regional_min_quote(spark, SF_ORACLE))
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")
    assert "Window" in p

    # BM25 lexical retrieval: map-only tokenize (no explode/Generate
    # of a (doc, term) stream), persisted narrow projection consumed
    # by both the stats and scoring branches, top-k as
    # TakeOrderedAndProject (never a global sort)
    from big_data_streaming_dashboard_spark.llmdata.text import bm25_topk
    from big_data_streaming_dashboard_spark.plans.registry import _docs

    p = _plan(bm25_topk(_docs(spark, SF_ORACLE)))
    assert "TakeOrderedAndProject" in p
    assert "Generate" not in p  # explode-free
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p

    # Q11: the total branch must REUSE the per-part aggregate's
    # exchange, not rescan+reaggregate the fact -- visible only in the
    # EXECUTED final plan (the AQE gotcha: assert on the part before
    # "== Initial Plan ==")
    df = national_part_share(spark, SF_ORACLE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("lineitem.parquet") == 1, final


def test_pareto_no_single_partition_customer_window(spark):
    """customer_revenue_pareto's docstring claims: the customer-sized
    cumulative sum runs PARTITIONED BY bucket (never the
    single-partition global-window trap), the only unpartitioned
    window is the <=1025-row bucket-offset table, and the fact feeds
    the whole plan through ONE scan (AQE ReusedExchange dedupes the
    four references to the per-customer aggregate -- visible only in
    the executed final plan, the standing AQE gotcha)."""
    from big_data_streaming_dashboard_spark.plans.relational6 import (
        customer_revenue_pareto,
    )

    df = customer_revenue_pareto(spark, SF_ORACLE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert final.count("orders.parquet") == 1, final.count("orders.parquet")
    assert "ReusedExchange" in final
    # the customer-sized cumsum window carries the bucket partition key
    cust_windows = [
        ln for ln in final.splitlines()
        if "windowspecdefinition" in ln and "_local_cum" in ln
    ]
    assert cust_windows and all(
        "windowspecdefinition(bucket" in ln for ln in cust_windows
    ), cust_windows
    # the unpartitioned window exists only over the bucket-totals agg
    bare_windows = [
        ln for ln in final.splitlines()
        if "windowspecdefinition" in ln and "_local_cum" not in ln
    ]
    assert all("_btot" in ln for ln in bare_windows), bare_windows


def test_anomaly_z_predicate_matches_exact_rationals_bulk(spark):
    """Randomized cross-check of the DECIMAL z-predicate against exact
    Python integer arithmetic: 2,000 seeded (n, v, s, ss) tuples
    spanning realistic window magnitudes (n up to 1e9, centi-values up
    to 1e6, sums consistent with them), evaluated in ONE DataFrame
    pass, must agree with 4*(n*v-s)^2 > 9*(n*ss-s^2) computed in
    unbounded ints. Catches any silent widening/rounding defect the
    single-value pins miss."""
    import random

    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.plans.relational4 import (
        _anomaly_z_predicate,
    )

    rng = random.Random(42)
    rows = []
    for _ in range(2000):
        n = rng.choice([20, 100, 10_000, 1_000_000, 10**9])
        vmax = rng.choice([100, 10_000, 1_000_000])
        v = rng.randint(-vmax, vmax)
        mean = rng.randint(-vmax, vmax)
        s = n * mean + rng.randint(-vmax, vmax)
        # ss >= s^2/n (Cauchy-Schwarz) keeps varn >= 0 like real data;
        # stay under the BIGINT cap
        base = min(s * s // n + rng.randint(0, vmax) * n, 2**62)
        rows.append((n, v, s, base))
    df = spark.createDataFrame(rows, "_n long, _v long, _s long, _ss long")
    got = [
        bool(r["p"])
        for r in df.select(
            _anomaly_z_predicate(
                F.col("_n"), F.col("_v"), F.col("_s"), F.col("_ss")
            ).alias("p")
        ).collect()
    ]
    want = [4 * (n * v - s) ** 2 > 9 * (n * ss - s * s) for n, v, s, ss in rows]
    assert got == want


def test_rotation_tool_computes_policy_window():
    """r12: the DRIVER_WINDOW rotation is now computed, not
    hand-derived (the r9 round was lost to a hand-edited window).
    Pins: (1) on the real ledgers the tool emits exactly 50 valid,
    distinct registry names with the rows-only entries and every
    never-attested query included; (2) mandatory entries exceeding
    the slot budget raise; (3) a query that would fall past the
    3-round staleness bound outside the window raises (synthetic
    ledgers) -- policy breaches are loud, never silent drops."""
    import json

    import pytest

    from big_data_streaming_dashboard_spark.plans.registry import QUERIES
    from big_data_streaming_dashboard_spark.plans.rotation import (
        attestation_ledger,
        next_window,
    )

    w = next_window()
    assert len(w) == 50 == len(set(w))
    assert all(n in QUERIES for n in w)
    rows_only = {n for n, q in QUERIES.items() if not q.oracle}
    assert rows_only <= set(w)
    newest, rounds = attestation_ledger("/root/repo")
    never = {n for n, q in QUERIES.items() if q.oracle and n not in newest}
    assert never <= set(w)
    assert len(rounds) >= 10  # r9 (crashed, no successful rows) excluded

    with pytest.raises(RuntimeError, match="exceed"):
        next_window(size=len(rows_only) + len(never) - 1)

    # synthetic: everything attested only in r1, four successful
    # COMPLETE rounds since (each re-attesting the same 30-name
    # block, above the completion threshold) -> whatever a small
    # window leaves out is past the bound and must raise
    import tempfile

    from big_data_streaming_dashboard_spark.plans.rotation import (
        MIN_ROUND_COMPLETION,
        WINDOW_SIZE,
    )

    with tempfile.TemporaryDirectory() as d:
        names = sorted(n for n, q in QUERIES.items() if q.oracle)
        ok = {"rows_match": True, "schema_match": True, "hash_match": True,
              "spark_rows": 1, "oracle_rows": 1, "err": None}
        json.dump({n: ok for n in names}, open(f"{d}/CORRECTNESS_r01.json", "w"))
        block = names[:30]  # 30 >= 0.5 * 50: counts as a complete round
        for r in range(2, 6):
            json.dump({n: ok for n in block},
                      open(f"{d}/CORRECTNESS_r{r:02d}.json", "w"))
        with pytest.raises(RuntimeError, match="stale"):
            next_window(repo_root=d, size=10)

    # r12 ADVICE: a PARTIAL round (crashed after a handful of rows)
    # must not advance the staleness clock -- its rows still update
    # `newest`, but the round is excluded from `rounds`
    with tempfile.TemporaryDirectory() as d:
        json.dump({n: ok for n in names}, open(f"{d}/CORRECTNESS_r01.json", "w"))
        few = int(MIN_ROUND_COMPLETION * WINDOW_SIZE) - 1
        json.dump({n: ok for n in names[:few]},
                  open(f"{d}/CORRECTNESS_r02.json", "w"))
        newest2, rounds2 = attestation_ledger(d)
        assert rounds2 == [1]
        assert newest2[names[0]] == 2  # the partial rows really ran
        # r14: the staleness arithmetic must not crash when a query's
        # newest row came from that partial round (newest[n] not in
        # `rounds` -- the old .index() form raised ValueError exactly
        # when such a query was left out of the window)
        w2 = next_window(repo_root=d, size=len(names) - 3)
        assert len(w2) == len(names) - 3


def test_driver_window_matches_rotation_tool():
    """r14 (r13 verdict item 6): the COMMITTED DRIVER_WINDOW must equal
    the rotation tool's output for the committed CORRECTNESS ledgers.
    The tool has existed since r12 and the registry comment says "run
    it at round start" -- this assert makes the guarantee continuous
    instead of round-start-manual (r9 lost a full round to a
    hand-edited window). When a new CORRECTNESS_r*.json lands at round
    end, this test goes red until the next session executes the
    rotation -- that is the intended forcing function, not a flake."""
    from big_data_streaming_dashboard_spark.plans.registry import (
        DRIVER_WINDOW,
    )
    from big_data_streaming_dashboard_spark.plans.rotation import (
        next_window,
    )

    assert DRIVER_WINDOW == next_window(), (
        "DRIVER_WINDOW is stale relative to the committed CORRECTNESS "
        "ledgers: run `python -m big_data_streaming_dashboard_spark."
        "plans.rotation` and paste its output (see the registry "
        "rotation comment for the documentation step)"
    )


def test_session_factory_sets_changelog_checkpointing(spark):
    """r12 (r11 verdict item 3): the engine defaults RocksDB changelog
    checkpointing on -- commit work halves at the measured state sizes
    (PLANS.md, 'State-store fixed cost'). Pin the conf so a session
    refactor cannot silently drop it back to full-snapshot uploads."""
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
        == "true"
    )


def test_pareto_all_equal_revenues_degenerate_bucket(spark):
    """The pareto decomposition's degenerate path: when every customer
    has identical revenue, the bucketing width collapses to the 1e-9
    floor and the whole dimension lands in ONE bucket -- the plan must
    still class correctly with ties broken by custkey (10 customers of
    100.00 each: cum for the i-th is 100i, so A = i<=8 via
    500i <= 4000, B = i=9 via 2000i <= 19000, C = i=10)."""
    from big_data_streaming_dashboard_spark.plans.relational6 import (
        revenue_pareto_of,
    )

    orders = spark.createDataFrame(
        [(i, float(100)) for i in range(1, 11)],
        "o_custkey long, o_totalprice double",
    )
    got = {
        r["pareto_class"]: (r["n_customers"], r["class_revenue"])
        for r in revenue_pareto_of(orders).collect()
    }
    assert got == {
        "A": (8, 800.0),
        "B": (1, 100.0),
        "C": (1, 100.0),
    }, got


def test_one_owner_for_session_caches_and_scale_gates():
    """Session caching and the scale-gate decisions have one owner,
    `physical.py`: no other package module names the application id
    (a cache key), the broadcast-safety gate or the broadcast budget,
    so a copied cache or gate cannot come back unnoticed."""
    import ast
    import pathlib

    import big_data_streaming_dashboard_spark as pkg

    owned = ("applicationId", "BROADCAST_SAFE_ROWS", "_verify_broadcast_bytes")
    root = pathlib.Path(pkg.__file__).parent
    owner = root / "physical.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                words = [node.id]
            elif isinstance(node, ast.Attribute):
                words = [node.attr]
            elif isinstance(node, ast.alias):
                words = [node.name, node.asname or ""]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                words = [node.name]
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                words = [node.value]
            else:
                continue
            offenders += [
                f"{path.relative_to(root)}:{node.lineno} {name}"
                for name in owned
                if any(name in w for w in words)
            ]
    assert owner.exists()
    assert not offenders, offenders
