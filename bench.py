#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The driver captures only the TAIL of stdout (last ~2000 chars), so the
final printed line MUST stay compact -- r5's single line outgrew the
capture and the round's headline number was never machine-recorded
(r5 verdict, "What's wrong"). Contract now: the LAST stdout line is a
compact {metric, value, unit, queries, sf, ...} line; everything bulky
(plan/exec split, extra-query timings, the 10x block detail) goes to
the sidecar `BENCH_DETAIL.json` next to this script.

Each query is materialized with the noop writer (forces full
computation of every column; a bare count() would let Catalyst prune
the projections we are trying to measure).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_streaming_dashboard_spark.plans import queries_dict
from big_data_streaming_dashboard_spark.session import get_spark

HEADLINE = [
    "full_pipeline",
    "silver_validate",
    "dedup_first_occurrence",
    "temporal_batch_annotate",
    "route_counts",
    "rolling_stats",
    "grid_cluster",
    "recent_points",
    "alerts_cooldown",
    "flagship_event_stats",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "user_sessions",
    "asof_latest_order",
    "events_by_hour",
    "doc_token_stats",
    "doc_minhash_signature",
    "doc_neardup_pairs",
    "emb_topk_cosine",
]

# post-r4 additions, timed OUTSIDE the headline total so r1..rN totals
# stay comparable; min-of-2 (secondary signals)
EXTRA = [
    "promo_revenue_share",
    "returned_top_customers",
    "brand_supplier_variety",
    "doc_domain_cap",
    "emb_label_centroids",
    "doc_chunk_spans",
    "doc_normalize",
    "activity_reconcile",
    "doc_containment_pairs",
    "doc_gopher_rules",
    "doc_dedupe_lines",
    "doc_vocab_coverage",
    # r8 additions: the four new LLM-pipeline ops
    "doc_importance_weights",
    "doc_bpe_merges",
    "doc_bpe_encode",
    "doc_repeated_passages_exact",
    # r10 additions: the two quality evaluators (each composes two
    # already-benched constituents; the marginal cost to watch is the
    # join/agg past them)
    "emb_ann_recall",
    "doc_neardup_recall",
    # r11: the high-J tail variant -- shares BOTH persisted constituent
    # indexes with doc_neardup_recall (memoized jaccard/band plans), so
    # running after it skips the index builds; what remains is plan
    # construction + the pair-sized joins/aggs both evaluators pay.
    # r11 second session: the evaluator tails now execute each
    # constituent ONCE (marked joins -- the old two-branch aggregation
    # re-ran the verify joins twice per call), measured warm at sf0.1:
    # base 3.6 -> 1.7 s, hi 3.4 -> 1.6 s, ann 2.0 -> 1.4 s
    "doc_neardup_recall_hi",
    # r11 second batch: the four classic decision-support shapes
    # (outer-join histogram, scalar-MAX, per-group-AVG join-back,
    # scalar-threshold anti-join) -- all fact-single-shuffle plans
    "customer_order_histogram",
    "top_supplier_revenue",
    "small_quantity_revenue",
    "idle_customer_balance",
    # r11 second batch: product-dashboard analytics over events
    "event_funnel",
    "weekly_cohort_retention",
    "doc_corpus_census",
    "value_anomalies",
    "shipping_priority",
    # NOTE: ~9 s at sf0.1 (was ~14 before joint-subspace training
    # collapsed 24 Lloyd jobs to 3), nearly all of it the pq_topk
    # CONSTITUENT's training + ADC scan; the evaluator tail past the
    # two constituents is (n_queries x k)-sized like its siblings
    "emb_pq_recall",
    "doc_neardup_cluster_sizes",
    # r12: seven more decision-support plan classes (Q4/Q7/Q8/Q12/
    # Q18/Q19/Q21 shapes -- non-equi semi-join, dim-first pair
    # reduction, conditional fraction, two-column CASE agg,
    # group-HAVING join-back, cross-table disjunction, decorrelated
    # double-EXISTS)
    "order_priority_exists",
    "bi_nation_volume",
    "region_market_share",
    "late_lines_priority",
    "large_volume_orders",
    "disjunctive_brand_revenue",
    "sole_late_supplier",
    "dominant_suppliers",
    # r12: estimator-calibration evaluator (pairs-sized joins past the
    # memoized jaccard/signature constituents)
    "doc_minhash_calibration",
    # r12: map-only context-length budget report
    "doc_packing_efficiency",
    # r12: source-centroid drift monitor (one (source,pos) exchange +
    # a catalog-sized pairwise join)
    "emb_source_drift",
    # r12: clustering-quality evaluator (cost ~= the kmeans fit it
    # scores; the inertia tail is aggregate-sized)
    "emb_kmeans_inertia",
    # r13: the four plan classes that complete the classic Q1-Q22
    # catalog (doubly-constrained star, correlated-min join-back,
    # group-vs-global threshold, pure-pushdown aggregate) -- 10x
    # linearity recorded in PLANS.md at add time (walls 1.0-1.3x for
    # 10x data)
    "local_supplier_volume",
    "regional_min_quote",
    "national_part_share",
    "discount_band_revenue",
    # r13: lexical-retrieval sibling of the vector ANN family
    # (map-only HOF tokenize, one persisted ~50 B/doc projection,
    # TakeOrderedAndProject top-k; flat at 10x -- 0.93 s)
    "doc_bm25_topk",
    # r13: train/val/test datasheet at near-dup-cluster granularity
    # (cost ~= the components plan it reuses + one corpus-sized join)
    "doc_split_leakage_safe",
    # r13: the global-ordered-cumsum class, decomposed bucket-parallel
    # (one fact shuffle; AQE ReusedExchange collapses the four
    # references to one scan -- plan-shape-pinned)
    "customer_revenue_pareto",
    # r13: hybrid lexical+dense retrieval (RRF over the BM25 and
    # cosine lists; everything past the two constituents is <= 2k
    # rows, so the marginal cost to watch is the constituents')
    "doc_hybrid_rrf_topk",
    # r13: cross-source contamination matrix (two size-gated joins +
    # a catalog-sized aggregate past the memoized pair plan)
    "doc_source_overlap",
    # r13: truncation-budget recall surface (the exact constituent
    # persists once; three sliced brute-force rankings + k-sized
    # tails)
    "emb_matryoshka_recall",
    # r13: precision-budget recall surface (same shape over the
    # 2/4/8-bit code rankings)
    "emb_quant_recall",
]

# scaling-regression canaries (r5 verdict item 4): a small subset
# re-run on the cached ~10x fixture so per-round BENCH records scaling
# behavior, not just sf0.1. Single rep (these are minutes-scale-budget
# guards, not microbenchmarks; run-to-run noise is swamped by a 10x
# regression, which is what they exist to catch) -- EXCEPT the two
# shingle canaries (TENX_REPS): their r10 numbers moved +62%/+37% on
# identical candidate/pair counts and burned a round on what the
# fresh-session slow suite says was noise/session state, so they run
# twice with cold/warm recorded separately (see TENX_REPS below; they
# are the only TENX entries over 10 s, so the cost is bounded and the
# comparability is what the canary exists for).
TENX = [
    "full_pipeline",
    "doc_neardup_pairs",
    "revenue_by_nation",
    # r7 additions (r6 verdict item 4): the two queries whose scale
    # behavior changed in r6/r7 (prefix-filtered candidates, int64
    # posting keys) plus one ANN path -- per-round regression
    # tripwires for exactly the paths whose 10x shape was re-earned
    # (doc_containment_pairs and emb_lsh_topk are two of them; both
    # sit in the cold-reps TAIL since r13/r14 -- see the comment
    # there)
    "doc_ngram_jaccard",
    # r8 (r7 verdict item 7): the W4 anchor -- the 10x fixture was
    # built to make its seconds hotter, which is where the
    # count-agg + broadcast-join-back plan's premise actually holds
    # (the sf0.1 fixture is ~1 Hz, so its per-second dim degenerates
    # to row-per-row; see operators/temporal.py docstring).
    # r18 HISTORY RESET: this entry had silently included the shared
    # silver->dedup->points persist materialization (~5-10 s at 10x;
    # full_pipeline builds its OWN pipeline, so nothing upstream in
    # TENX warms the shared stage) -- the r15-r17 4.5/16.6/12.4 s
    # swings were THAT shuffle's variance, not the W4 join (stable
    # 0.7-1.7 s, plan verified BroadcastHashJoin on a quiet box).
    # The shared stage is now warmed untimed before the loop
    # (storage ledger: shared_pipeline_warm_s); comparable from r18.
    "temporal_batch_annotate",
    # r11: the new 3-table two-sided-pushdown top-k shape (orders
    # replicate with remapped orderkeys, so the date-filtered join
    # stays 1:1 at 10x)
    "shipping_priority",
    # r12: the decorrelated double-EXISTS shape (per-order conditional
    # distinct counts + late-line join-back) -- the round's most
    # shuffle-interesting new plan; measured 8.6 s cold sf0.1 ->
    # 11.6 s at 10x (1.35x wall for 10x data) when added
    "sole_late_supplier",
    # r13 (r12 verdict item 8): the newest monitor family gets the
    # same measured-scale evidence as the dedup/ANN families -- the
    # pairwise-drift plan is catalog-sized (quadratic in SOURCES,
    # never vectors), so its 10x wall should track the decorate scan,
    # not the pair count; 0.90 s at sf0.1 when added
    "emb_source_drift",
    # r13: the bucket-parallel global-cumsum class. The fixture
    # replicates each order 10x per UNCHANGED customer, so per-class
    # counts at 10x must equal sf0.1 exactly (revenue scales, shares
    # don't) -- a free output-invariance check on top of the wall
    # (1.0 s sf0.1 / 1.1-1.3 s 10x warm when added: the fact scan is
    # the only linear stage)
    "customer_revenue_pareto",
    # --- cold-reps TAIL (r14, r13 verdict item 2): every entry from
    # here down runs under TENX_COLD_REPS (engine caches + Spark cache
    # cleared before EACH rep, compact line = min of the iid cold
    # draws). They sit at the END, after every single-rep entry, so
    # the clears can never evict state the single-rep entries'
    # cold history assumes (in-order accumulation since r10 -- the
    # reason containment moved last in r13). The four r14 additions
    # are exactly the canaries whose single r13 draws moved 1.8-3.2x
    # on plans the diff never touched (load 5.6 at bench start, a
    # same-session warm rep 2.6x its own cold rep): one draw per
    # round cannot distinguish VM contention from a real regression
    # until ~3x, and min-of-cold is the comparison key that can.
    # Their cross-round history RESTARTS at r14 on the min-of-cold
    # basis (the clears remove the inherited-cache state their old
    # single-draw numbers silently included -- the containment
    # precedent, where the same reset showed r12's 114.6 s was noise).
    "emb_lsh_topk",
    "doc_importance_weights",
    "doc_bpe_merges",
    "value_anomalies",
    # r13 (r12 verdict item 3): containment stays LAST (the most
    # expensive entry; its clears end the run)
    "doc_containment_pairs",
]

# r12 (r11 verdict item 2 + ADVICE): TENX_REPS entries record BOTH rep
# timings (cold_s / warm_s) in BENCH_DETAIL and report the COLD rep in
# the compact sf10x dict -- the r11 min-of-2 let rep 2 reuse the band
# index rep 1 persisted, so the reported 14-30 s measured cache reuse
# and broke comparability with the canary's own cold history (r8
# jaccard: 41.8 s cold). Cold is the number the canary exists for.
# doc_containment_pairs dropped from this map in r12: its warm rep
# measured nothing (warm >= cold, 88 vs 83 s in the r12 session -- the
# verify stage dominates and has no cross-rep reuse, unlike jaccard's
# band index), and its counts-instrumented execution now IS the timed
# run (see the TENX loop), so it executes once per bench, not thrice
# -- the bench must fit the driver's budget (the r12 pre-trim bench
# exceeded 10 minutes).
# r14 rep-policy note (r13 verdict item 5, adjudicating the r13
# doc_ngram_jaccard warm 77.3 s vs cold 29.9 s): a warm rep 2.6x its
# own cold rep on an unchanged plan measures BOX CONTENTION, not the
# engine -- the same r13 run started at load 5.6 and its containment
# cold pair spread 80.3/51.2 s on one plan. The warm rep is kept for
# jaccard because it usually DOES measure something real (band-index
# reuse: warm ~0.5x cold on a quiet box, r12), but it is ADVISORY
# ONLY: the cross-round comparison key for every repped canary is the
# cold number, and warm >= cold in the archived detail is to be read
# as "contended run", never as a regression signal.
TENX_REPS = {"doc_ngram_jaccard": 2}

# r13 (r12 verdict item 3): the containment canary is too
# I/O-variance-bound on this VM for ONE draw to adjudicate (r12 read
# 114.6 s cold vs same-day 53/69/83 s on a provably unchanged plan;
# warm reps measure nothing there -- no cross-rep reuse). It now runs
# TWICE with the engine caches + Spark cache CLEARED before each rep
# (two iid cold draws), both recorded in BENCH_DETAIL.sf10x_reps as
# cold_s_1/cold_s_2; the compact sf10x line carries the MIN -- the
# cross-round comparison key is min-of-cold from r13 on. Budget:
# one extra ~45-115 s run, inside the driver's 10-minute envelope.
TENX_COLD_REPS = {
    "doc_containment_pairs": 2,
    # r14 (r13 verdict item 2): the four high-variance canaries whose
    # single r13 draws were unadjudicable -- see the cold-reps TAIL
    # comment in TENX for the policy and the history reset
    "emb_lsh_topk": 2,
    "doc_importance_weights": 2,
    "doc_bpe_merges": 2,
    "value_anomalies": 2,
}

# import-time fail-fast, same class of guard as registry.DRIVER_WINDOW:
# a dangling name in any bench list must die when this file loads (in
# tests / at session start), never mid-way through the driver's bench
# run (the r9 failure mode, which cost a full round)
_REGISTERED = set(queries_dict())
for _lst, _lname in ((HEADLINE, "HEADLINE"), (EXTRA, "EXTRA"), (TENX, "TENX")):
    _dangling = [n for n in _lst if n not in _REGISTERED]
    if _dangling:
        raise RuntimeError(
            f"bench.{_lname} names not in the query registry: {_dangling}"
        )
del _REGISTERED
# a TENX_REPS key that is renamed/rotated out of TENX would silently
# lose its rep override and the comparability the reps exist for
# (r11 ADVICE): same fail-at-import treatment
_orphan_reps = set(TENX_REPS) - set(TENX)
if _orphan_reps:
    raise RuntimeError(
        f"bench.TENX_REPS keys not in TENX: {sorted(_orphan_reps)}"
    )
del _orphan_reps
_orphan_cold = set(TENX_COLD_REPS) - set(TENX)
if _orphan_cold:
    raise RuntimeError(
        f"bench.TENX_COLD_REPS keys not in TENX: {sorted(_orphan_cold)}"
    )
del _orphan_cold
# an entry in both maps would time rep 2 twice under conflicting
# cold/warm semantics -- the two mechanisms are mutually exclusive
_both = set(TENX_REPS) & set(TENX_COLD_REPS)
if _both:
    raise RuntimeError(
        f"bench: entries in both TENX_REPS and TENX_COLD_REPS: {sorted(_both)}"
    )
del _both
# cold-reps entries must form a contiguous TAIL of TENX: a cold-reps
# entry followed by a single-rep entry would clear the caches that
# single-rep entry's cross-round cold history assumes (the in-order
# accumulation invariant, see the TENX tail comment)
_tail = TENX[len(TENX) - len(TENX_COLD_REPS):] if TENX_COLD_REPS else []
if set(_tail) != set(TENX_COLD_REPS):
    raise RuntimeError(
        "bench: TENX_COLD_REPS entries must be the contiguous tail of "
        f"TENX (tail={_tail}, cold_reps={sorted(TENX_COLD_REPS)})"
    )
del _tail


def _warm_page_cache(*dirs: str) -> dict[str, float]:
    """UNTIMED sequential read of every fixture byte, so the timed
    loops measure plans rather than disk state (r11 verdict item 2:
    the driver runs the full pytest suite before bench, which evicts
    the sf0.1/10x fixtures from the OS page cache and inflated every
    r11 headline entry a uniform 1.15-1.9x -- including queries whose
    code never changed -- while scan-heavy single-rep 10x entries
    inflated up to 5x). Returns {dir: seconds} for the detail ledger,
    so a warm-up that suddenly costs tens of seconds (cold disk) is
    itself self-evident in the archived JSON."""
    ledger: dict[str, float] = {}
    for d in dirs:
        t0 = time.perf_counter()
        try:
            for root, _sub, files in os.walk(d):
                for fname in files:
                    with open(os.path.join(root, fname), "rb") as f:
                        while f.read(1 << 22):
                            pass
        except OSError:
            pass  # missing fixture surfaces in the timed loop's error
        ledger[d] = round(time.perf_counter() - t0, 4)
    return ledger


# r19 (r18 verdict item 2): the HEADLINE block gets the same per-block
# load stamps the 10x block got in r18 -- r18's headline draw started
# at load_avg 8.0 and produced 14 phantom "regressions" (geomean 0.751)
# on queries whose code had an empty diff; with no stamp in the compact
# line the PERF comparison could not be adjudicated from the archived
# file alone. Policy: STAMP both block draws always (compact line
# carries them -- BENCH_rN.json must be self-adjudicating); SETTLE once
# before the first block only, from a small budget that keeps the bench
# inside the driver's ~10-minute envelope.
HEADLINE_SETTLE_BUDGET_S = 60.0

# r18 (r17 verdict item 3): the sf10x canaries have now cost THREE
# consecutive rounds of builder+judge adjudication of load-correlated
# noise (r15 load 10.8, r16 4.5, r17 8.8 -- walls tracked the load,
# not the code). The bench recorded load but never acted on it; these
# convert that labor into a mechanical per-rep gate. load1 (the 1-min
# EMA) is the WRONG gate signal mid-bench: it is confounded by the
# bench's own just-finished 32-thread queries for minutes after they
# end. The gate therefore samples /proc/loadavg's 4th field
# (instantaneous runnable/total) while OUR session is idle between
# reps: every runnable thread at sample time minus ourselves is
# external by construction. load1 is still stamped for continuity
# with load_avg_at_start history.
TENX_LOAD_THRESHOLD = 2.0
# total settle sleep across the whole 10x block -- the bench must fit
# the driver's ~10-minute envelope, so a persistently-loaded box gets
# annotated (contended: true), never an unbounded wait
TENX_SETTLE_BUDGET_S = 120.0


def _external_runnable(samples: int = 5, interval_s: float = 0.2) -> float:
    """Mean count of OTHER runnable threads right now: /proc/loadavg
    field 4 is 'runnable/total' at read time; our python thread is
    runnable while reading, so subtract 1. Unconfounded by the 1-min
    EMA's memory of our own finished Spark stages -- though only
    APPROXIMATELY external: the session's own JVM background threads
    (listener-bus drain, GC, context cleaner) can briefly be
    runnable at sample time (observed up to ~1.8 right after a heavy
    query), which the 5-sample mean and the 2.0 threshold absorb;
    they do not SUSTAIN above it."""
    vals: list[float] = []
    for _ in range(samples):
        try:
            with open("/proc/loadavg") as f:
                runnable = int(f.read().split()[3].split("/")[0])
        except (OSError, ValueError, IndexError):
            return -1.0  # non-Linux: gate disarms, stamp records -1
        vals.append(max(0, runnable - 1))
        time.sleep(interval_s)
    return round(sum(vals) / len(vals), 2)


def _rep_load_gate(settle_budget: list) -> dict:
    """Pre-rep gate: if external runnable load exceeds the threshold,
    sleep in 15 s slices (shared block budget, annotate-and-retry
    policy) until it decays or the budget is gone; stamp what the rep
    actually started at. `contended: true` marks a draw that STARTED
    loaded despite the settle -- cross-round canary tooling must
    discard it rather than adjudicate it (the r15-r17 lesson)."""
    ext = _external_runnable()
    waited = 0.0
    while ext > TENX_LOAD_THRESHOLD and settle_budget[0] > 0:
        step = min(15.0, settle_budget[0])
        time.sleep(step)
        settle_budget[0] -= step
        waited += step
        ext = _external_runnable()
    stamp = {
        "ext_runnable": ext,
        "load1": round(os.getloadavg()[0], 2),
    }
    if waited:
        stamp["settle_s"] = round(waited, 1)
    if ext > TENX_LOAD_THRESHOLD:
        # contended means DISCARD downstream, so confirm before
        # stamping: own-JVM background threads (listener bus, GC)
        # can spike one sample window; genuine contention sustains
        # across two
        confirm = _external_runnable()
        stamp["ext_runnable"] = confirm  # the rep starts NOW
        if confirm > TENX_LOAD_THRESHOLD:
            stamp["contended"] = True
    return stamp


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(s: str) -> float:
    """Parse a size SQLMetric's display string: a 'total (min, med,
    max (stageId: taskId))' HEADER line, then the value line whose
    leading token pair is the total in Utils.bytesToString format
    ('19.6 KiB (4.9 KiB, ...)')."""
    line = s.strip().splitlines()[-1]
    parts = line.split()
    return float(parts[0]) * _SIZE_UNITS[parts[1]]


def _last_exec_shuffle_mb(spark) -> float:
    """Total 'shuffle bytes written' across every exchange of the
    session's LAST completed SQL execution, read from the SQL status
    store's own aggregated metrics. For a fixed plan this footprint
    is DETERMINISTIC (same partitioning, same rows), so it is the
    noise-immune plan-regression tripwire the containment canary
    needs: its cold WALL swings ~3x with VM disk throughput
    invisible to every load metric (r18 adjudication), and disk-walk
    deltas of the blockmgr dirs race the async context cleaner
    (validated: a mid/post-draw GC zeroes them). The store's
    formatted totals ('2.2 GiB') cost ~1% precision -- irrelevant
    for a tripwire whose failure mode is a 10-30x candidate
    blowup. Scope: the LAST SQL execution only -- an ITERATIVE query
    (doc_bpe_merges trains across many executions) reads just its
    final assembly, so a stable 0.0 there is legitimate; its wall
    remains the whole-query ledger."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        last = None
        completed = False
        for _ in range(50):  # the store fills via the ASYNC listener
            execs = store.executionsList()  # bus; wait (<=5 s) for the
            if not execs.isEmpty():  # last execution to complete there
                last = execs.apply(execs.size() - 1)
                if last.completionTime().isDefined():
                    completed = True
                    break
            time.sleep(0.1)
        if last is None or not completed:
            # a lagging/dropping listener bus after a heavy draw: a
            # PARTIAL aggregate archived as "the footprint" would
            # fire phantom cross-round tripwires -- the sentinel,
            # never a half-drained total
            return -1.0
        vals = store.executionMetrics(last.executionId())
        metrics = last.metrics()
        total = 0.0
        seen: set = set()  # AQE re-lists a metric per plan version
        for i in range(metrics.size()):
            m = metrics.apply(i)
            acc = m.accumulatorId()
            if m.name() == "shuffle bytes written" and acc not in seen:
                seen.add(acc)
                v = vals.get(acc)
                if v.isDefined():
                    total += _parse_size(v.get())
        return round(total / (1 << 20), 1)
    except Exception:
        return -1.0


def _storage_bytes(spark) -> int:
    """Executor storage memory currently held by persisted RDDs --
    recorded around the pre-TENX cache release so a contaminated 10x
    block (state left over from the sf0.1 HEADLINE+EXTRA session) is
    self-evident in the archived JSON (r10 verdict item 2)."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() for i in infos))
    except Exception:
        return -1


def _time_query(fn, spark, sf_dir, reps):
    """(best_total, plan_s, exec_s, rep_totals) over `reps` runs; min
    is the steady-state number (first rep pays JIT/codegen + cache
    materialization). rep_totals is in execution order, so rep 0 is
    the COLD run -- the 10x shingle canaries report that one (see
    TENX_REPS comment)."""
    best = float("inf")
    plan = exc = 0.0
    rep_totals: list[float] = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rep_totals.append(round(t2 - t0, 4))
        if t2 - t0 < best:
            best, plan, exc = t2 - t0, t1 - t0, t2 - t1
    return round(best, 4), round(plan, 4), round(exc, 4), rep_totals


def _containment_ledger(spark, sf_dir: str, full_s: float) -> dict:
    """Per-stage ledger for doc_containment_pairs (r7 verdict item 1):
    candidate-stage seconds, verify+emit seconds (full minus
    candidates -- both stages share the warm persisted index, so the
    subtraction isolates the verify tree), and the candidate/output
    pair counts that make the scaling shape self-evident. Counts come
    from one CollectMetrics-instrumented execution (no extra jobs)."""
    from big_data_streaming_dashboard_spark import physical
    from big_data_streaming_dashboard_spark.llmdata import dedup as dd

    docs = dd.containment_decorate(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )
    n = physical.corpus_count(docs)
    cand = dd._prefix_candidates(
        docs, 0.8, dd.DEFAULT_MAX_BUCKET, n, physical.scale_hint_merge, symmetric=False
    )
    cand_s = float("inf")
    for _ in range(2):  # min-of-2: the sf0.1 number beside it is too
        t0 = time.perf_counter()
        cand.write.format("noop").mode("overwrite").save()
        cand_s = min(cand_s, round(time.perf_counter() - t0, 4))
    df, cand_obs, out_obs = dd.containment_pairs_observed(docs)
    df.write.format("noop").mode("overwrite").save()
    return {
        "candidates_s": cand_s,
        "verify_emit_s": round(max(full_s - cand_s, 0.0), 4),
        "n_candidates": cand_obs.get["n"],
        "n_pairs": out_obs.get["n"],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # machine state at start: a loaded box inflates every number (the
    # r2 lesson -- see STATE.md's contention A/B); recording the load
    # makes a contaminated run self-evident in the archived JSON
    load1, load5, _ = os.getloadavg()
    # no console progress bars: the driver's tail capture is a COMBINED
    # stdout+stderr window of ~2000 chars, and stage-progress \r spam
    # competes with the one JSON line for it (r4/r5 tails were mostly
    # progress bars)
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # warm the JVM/codegen once so per-query numbers measure the plans
    spark.range(1000).selectExpr("sum(id)").collect()
    # untimed page-cache warm-up of the sf fixture (r11 verdict item 2)
    warmup_s = _warm_page_cache(sf_dir)

    # r15 (r14 verdict item 4): the headline block runs TWICE and the
    # compact line carries the lower-total block -- the total was the
    # one remaining single-draw number, so a loaded box (r14: +6% at
    # load 8.0 vs r13's 5.6) could fake a drift that min-of-two-blocks
    # makes mechanical to dismiss. Both block totals go to the detail
    # ledger; per-query numbers stay a coherent single block draw (not
    # per-query mins across blocks, which would sum to a total no real
    # run produced).
    fns = queries_dict()
    block_runs: list[tuple[dict, dict, dict]] = []
    headline_loads: list[dict] = []
    headline_settle = [HEADLINE_SETTLE_BUDGET_S]
    for blk in range(2):
        # stamp every block; settle (bounded) only before the first --
        # the second block follows our own finished queries, where the
        # instantaneous ext_runnable read is the honest record and a
        # second settle would spend envelope on our own JVM tail
        headline_loads.append(
            _rep_load_gate(headline_settle if blk == 0 else [0.0])
        )
        t_b: dict[str, float] = {}
        p_b: dict[str, float] = {}
        e_b: dict[str, float] = {}
        for name in HEADLINE:
            t_b[name], p_b[name], e_b[name], _ = _time_query(
                fns[name], spark, sf_dir, reps=3
            )
        block_runs.append((t_b, p_b, e_b))
    block_totals = [round(sum(t.values()), 4) for t, _p, _e in block_runs]
    timings, plan_s, exec_s = block_runs[block_totals.index(min(block_totals))]

    extra = {}
    for name in EXTRA:
        extra[name], _, _, _ = _time_query(fns[name], spark, sf_dir, reps=2)

    # containment per-stage ledger (r7 verdict item 1): ran AFTER the
    # EXTRA loop so the persisted posting index is warm and the stage
    # split reflects steady state, like the min-of-2 number beside it
    try:
        contain_detail = _containment_ledger(
            spark, sf_dir, extra.get("doc_containment_pairs", 0.0)
        )
    except Exception as e:
        contain_detail = {"error": f"{type(e).__name__}: {e}"}

    # 10x block: reuses (or builds once -- cached, gitignored) the
    # test-suite scale fixture. Skippable for constrained runs.
    tenx: dict[str, float] = {}
    tenx_reps_detail: dict[str, dict[str, float]] = {}
    tenx_err = None
    storage = {}
    containment_counts: dict | str | None = None
    if os.environ.get("SPARK_GRAFT_SKIP_10X", "") != "1":
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
            from scale10x import ensure_scale_fixture

            # release every sf0.1 persisted plan before timing the 10x
            # block (r10 verdict item 2): by this point the session
            # holds every HEADLINE+EXTRA index/stage cache, and the r10
            # shingle-canary "regression" (+62% on identical counts,
            # quieter box) tracked exactly that accumulated state --
            # the canary must measure the plans, not session hygiene.
            # The storage ledger before/after makes contamination
            # self-evident in the archived JSON.
            from big_data_streaming_dashboard_spark.plans.registry import (
                clear_engine_caches,
            )

            storage["before_release"] = _storage_bytes(spark)
            storage["evicted_entries"] = clear_engine_caches()
            spark.catalog.clearCache()
            storage["at_10x_start"] = _storage_bytes(spark)

            scale_dir = ensure_scale_fixture(spark)
            # untimed page-cache warm-up of the 10x fixture -- the
            # single-rep TENX entries are the ones r11's eviction
            # inflated up to 5x
            warmup_s.update(_warm_page_cache(scale_dir))
            # r18 (r17 verdict item 2, temporal adjudication): the
            # shared silver->dedup->points stage is materialized
            # UNTIMED here, because full_pipeline builds its OWN
            # pipeline (batch_pipeline) -- so temporal_batch_annotate
            # was the FIRST consumer of the shared stage at 10x and
            # its timed wall had included the ~5-10 s persist
            # materialization (a big shuffle, the actual source of
            # the r15-r17 4.5->16.6 s "regressions"; the W4 join the
            # canary exists for measures 0.7-1.7 s and never moved).
            # HISTORY RESET: temporal_batch_annotate's 10x ledger is
            # comparable only from r18 on.
            from big_data_streaming_dashboard_spark.plans.registry import (
                _points,
            )

            t0 = time.perf_counter()
            _points(spark, scale_dir).count()
            storage["shared_pipeline_warm_s"] = round(
                time.perf_counter() - t0, 4
            )
            from big_data_streaming_dashboard_spark.llmdata import dedup as dd

            settle_budget = [TENX_SETTLE_BUDGET_S]
            for name in TENX:
                if name in TENX_COLD_REPS:
                    # iid cold draws: engine caches + Spark cache
                    # cleared before EACH rep; compact line = min of
                    # cold (see TENX_COLD_REPS comment)
                    cold_totals: list[float] = []
                    rep_loads: dict[str, object] = {}
                    for i in range(TENX_COLD_REPS[name]):
                        clear_engine_caches()
                        spark.catalog.clearCache()
                        rep_loads[f"load_{i + 1}"] = _rep_load_gate(
                            settle_budget
                        )
                        t, _, _, _ = _time_query(
                            fns[name], spark, scale_dir, reps=1
                        )
                        cold_totals.append(t)
                        # the draw's shuffle-bytes footprint (from
                        # the noop write's own execution metrics --
                        # it is the session's last SQL execution
                        # here): the mechanical plan-regression
                        # tripwire; the wall is advisory (see
                        # _last_exec_shuffle_mb).
                        rep_loads[f"shuffle_mb_{i + 1}"] = (
                            _last_exec_shuffle_mb(spark)
                        )
                    tenx[name] = round(min(cold_totals), 4)
                    tenx_reps_detail[name] = {
                        f"cold_s_{i + 1}": v
                        for i, v in enumerate(cold_totals)
                    }
                    tenx_reps_detail[name].update(rep_loads)
                    continue
                reps = TENX_REPS.get(name, 1)
                load_stamp = _rep_load_gate(settle_budget)
                detail = tenx_reps_detail.setdefault(name, {})
                detail["load"] = load_stamp
                if reps == 1:
                    tenx[name], _, _, _ = _time_query(
                        fns[name], spark, scale_dir, reps=1
                    )
                    detail["shuffle_mb"] = _last_exec_shuffle_mb(spark)
                else:
                    # report COLD (rep 0); both reps go to the detail
                    # ledger (see TENX_REPS comment). Reps run as
                    # separate _time_query calls (fn is rebuilt per
                    # rep either way) so the COLD rep's footprint can
                    # be stamped -- the warm rep's shuffle shrinks
                    # with band-index reuse and is not the canonical
                    # footprint.
                    rep_totals = []
                    for r in range(reps):
                        t, _, _, _ = _time_query(
                            fns[name], spark, scale_dir, reps=1
                        )
                        rep_totals.append(t)
                        if r == 0:
                            detail["shuffle_mb"] = (
                                _last_exec_shuffle_mb(spark)
                            )
                    tenx[name] = rep_totals[0]
                    detail.update(
                        cold_s=rep_totals[0],
                        warm_s=round(min(rep_totals[1:]), 4),
                    )
            # candidate/output pair counts beside the containment 10x
            # time (r7 verdict: the counts make the output-bound wall
            # self-evident). GATED since r12: the CollectMetrics taps
            # measurably DEGRADE the plan (120 s tapped vs 45 s
            # untapped at 10x on a quiet box -- the observe node is an
            # optimizer barrier), so the counts execution is a second
            # full run that the driver-budgeted bench can no longer
            # afford by default. The counts were byte-identical
            # r8-r11-r12 (33,651,780 / 1,552,800); set
            # SPARK_GRAFT_10X_COUNTS=1 to re-measure when a canary
            # drift needs adjudicating (the r10/r12 protocol).
            # the counts (and the gate note) live in BENCH_DETAIL only
            # since r13 (r12 verdict item 5): the compact line's sf10x
            # map stays floats-only so cross-round tooling never trips
            # on a string or a count mixed into the timings
            if os.environ.get("SPARK_GRAFT_10X_COUNTS", "") == "1":
                docs10 = dd.containment_decorate(
                    spark.read.parquet(
                        os.path.join(scale_dir, "documents.parquet")
                    )
                )
                df10, c_obs, o_obs = dd.containment_pairs_observed(docs10)
                df10.write.format("noop").mode("overwrite").save()
                containment_counts = {
                    "n_candidates": c_obs.get["n"],
                    "n_pairs": o_obs.get["n"],
                }
            else:
                containment_counts = "gated:SPARK_GRAFT_10X_COUNTS"
        except Exception as e:  # never let the canary sink the headline line
            tenx_err = f"{type(e).__name__}: {e}"

    total = round(sum(timings.values()), 4)
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sf10x": tenx,
        "load_avg_at_start": [round(load1, 2), round(load5, 2)],
        # r19: per-block pre-draw load stamps (ext_runnable = mean
        # OTHER-thread runnable count at block start; the adjudication
        # key for headline drift) + which block the compact numbers
        # came from -- in the COMPACT line so BENCH_rN.json alone can
        # adjudicate a headline regression (r18 verdict item 2)
        "headline_load": headline_loads,
        "headline_block": block_totals.index(min(block_totals)) + 1,
    }
    detail = dict(
        compact,
        plan_s=plan_s,
        exec_s=exec_s,
        extra_queries=extra,
        containment_stages=contain_detail,
        sf10x_error=tenx_err,
        sf10x_storage_bytes=storage,
        sf10x_reps=tenx_reps_detail,
        # rep semantics (r14): cold_s_N are iid cache-cleared draws,
        # compared cross-round via their MIN; warm_s is advisory only
        # (warm >= cold reads as a contended box, never a regression).
        # r18: every rep carries a pre-rep load stamp (ext_runnable =
        # instantaneous OTHER-thread runnable count, the gate signal;
        # load1 = the EMA, history-confounded, for continuity);
        # contended:true marks a draw that started above the gate
        # threshold after the settle budget -- DISCARD it cross-round,
        # never adjudicate it (r17 verdict item 3).
        sf10x_rep_semantics="min-of-cold is the comparison key; warm "
        "advisory; discard contended:true draws",
        # r15: both block totals; compact carries the min block (r14
        # verdict item 4 -- block-level noise suppression, same policy
        # class as min-of-cold)
        headline_block_totals=block_totals,
        headline_rep_semantics="compact line = lower-total of two "
        "block draws; per-query numbers are that block's min-of-3",
        sf10x_containment_counts=containment_counts,
        page_cache_warmup_s=warmup_s,
    )
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w"
    ) as f:
        json.dump(detail, f, indent=1)
    line = json.dumps(compact)
    # tail-capture guard: the driver keeps the last ~2000 chars of
    # stdout; a final line longer than that loses its head and the
    # round's number (the r5 failure). Degrade to metric/value only
    # rather than ever print an unparseable line.
    if len(line) > 1800:
        line = json.dumps(
            {
                "metric": compact["metric"],
                "value": total,
                "unit": "sec",
                "sf": compact["sf"],
                "headline_load": headline_loads,
                "headline_block": compact["headline_block"],
            }
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
