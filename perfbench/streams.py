"""``stream_drain``: the streaming pipeline in a closed loop, and its
output checks.

``full_stream`` (default unbounded dedup, reference-faithful W4) reads a
seeded bronze backlog through ``stream_parquet_bronze`` (one 50k-row
file per micro-batch) with ``availableNow`` into ``route_foreach_batch``,
whose ``write_route`` writes one parquet directory per (route, epoch).

The traced run adds, after the measured drain: the alerts lane
(``silver_stream`` -> ``alert_candidates`` -> ``exact_cooldown_stream``)
over one file, drains of progressively longer public-function prefixes
for per-stage self time, and a drain on ``local[1]``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import numpy as np
import pyarrow.parquet as pq

import env
import gen
import stats

WARM_ROWS = 4_000  # warm-up backlog (one file), drained in every set-up
# rows per backlog file = rows per micro-batch: large enough that per-row
# work outweighs the per-trigger cost, small enough that a whole run
# (about a minute, most of it JVM start and cold JIT) fits the time budget
FILE_ROWS = 50_000
NOMINAL_RATE = 10_000  # rows/s; sizes the backlog from --seconds, nothing else
STAGE_ROWS = 20_000  # rows of the one-file backlog the traced extras drain
EPOCH_S = 1.7e9  # generator-clock origin of the backlog (2023-11-14 UTC)
ALERT_COLS = ["cooldown_key", "event_time", "lat", "lon", "value", "severity"]


class EmitLog:
    """When (``env.clock``) each (epoch, route) output finished writing."""

    def __init__(self):
        self._lock = threading.Lock()
        self.t: dict[tuple[int, str], float] = {}

    def mark(self, epoch: int, route: str) -> None:
        with self._lock:
            self.t[(epoch, route)] = env.clock()


def routed_sink(out_dir: str, tracer, emit: EmitLog, parent: int | None = None):
    """``route_foreach_batch`` writing one parquet directory per
    (route, epoch); a replayed epoch overwrites its own directory.
    Spark calls it on another thread, so its spans name ``parent``."""
    from big_data_streaming_dashboard_spark.streaming.sinks import route_foreach_batch

    def write_route(name, df, epoch_id):
        with tracer.span("sinks.write_route", route=name, epoch=epoch_id):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name, f"epoch={epoch_id}"))
        emit.mark(epoch_id, name)

    inner = route_foreach_batch(write_route)

    def fn(batch, epoch_id):
        with tracer.span("sinks.route_foreach_batch", parent=parent, epoch=epoch_id):
            inner(batch, epoch_id)

    return fn


def _noop_sink(batch, epoch_id):
    batch.write.format("noop").mode("overwrite").save()


def drain_query(stream, sink, ckpt: str, once: bool = False, timeout_s: float = 170.0):
    """Run ``stream`` into a foreachBatch ``sink`` until the backlog is
    drained (``availableNow``), or for one micro-batch (``once``);
    returns (seconds on ``env.clock``, progress list)."""
    trigger = {"once": True} if once else {"availableNow": True}
    t0 = env.clock()
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(**trigger)
        .start()
    )
    q.awaitTermination(timeout_s)
    wall = env.clock() - t0
    if q.isActive:
        q.stop()
        raise TimeoutError(f"drain did not finish in {timeout_s:.0f} s")
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")
    # plain JSON dicts, whatever progress type this pyspark returns
    progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    return wall, progress


def bronze_stream(spark, in_dir: str, tracer):
    from big_data_streaming_dashboard_spark.sources.streams import stream_parquet_bronze

    with tracer.span("sources.stream_parquet_bronze"):
        return stream_parquet_bronze(spark, in_dir)


def routed_stream(spark, in_dir: str, tracer, observe: bool = False):
    """``full_stream`` over the bronze files. With ``observe``, a
    ``DataFrame.observe`` tap counts rows per route in every trigger;
    taps are optimizer barriers, so only the traced run attaches them."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.operators.route import ROUTES
    from big_data_streaming_dashboard_spark.streaming.pipeline import full_stream

    bronze = bronze_stream(spark, in_dir, tracer)
    with tracer.span("pipeline.full_stream"):
        stream = full_stream(bronze)
    if observe:
        stream = stream.observe(
            "routes", *[F.count(F.when(F.col("route") == r, 1)).alias(r) for r in ROUTES])
    return stream


def drain_routed(run, spark, in_dir: str, base: str, once: bool = False):
    """The measured unit: drain ``in_dir`` through ``full_stream`` into
    the routed parquet sink. Returns (wall, progress, emit log, start)."""
    shutil.rmtree(base, ignore_errors=True)
    emit = EmitLog()
    start = env.clock()
    with run.tracer.span("workload.drain") as span:
        stream = routed_stream(spark, in_dir, run.tracer, observe=run.trace)
        sink = routed_sink(os.path.join(base, "out"), run.tracer, emit,
                           span["id"] if span else None)
        wall, progress = drain_query(stream, sink, os.path.join(base, "ck"), once)
    return wall, progress, emit, start


def warm_pass(run, spark, i: int) -> None:
    """Set-up warm-up: one micro-batch of a small backlog through the
    measured query, so JIT, codegen and the state store are warm."""
    base = os.path.join(run.work, f"warm-{i}")
    b = gen.make_bronze(run.seed + 7919, WARM_ROWS, EPOCH_S)
    gen.write_bronze_files(b, os.path.join(base, "in"), WARM_ROWS)
    drain_routed(run, spark, os.path.join(base, "in"), os.path.join(base, "q"), once=True)


# --- output checks ------------------------------------------------------------


def routed_output(out_dir: str):
    """The routed sink's rows (with their epoch), read back with pyarrow."""
    import pyarrow.dataset as ds

    cols = ["event_id", "dedup_key", "status", "route", "timestamp", "temporal_batch_size",
            "epoch"]
    dataset = ds.dataset(out_dir, format="parquet",
                         partitioning=ds.partitioning(flavor="hive"))
    return dataset.to_table(columns=cols).to_pandas()


def reference_routed(spark, in_dir: str):
    """``batch_pipeline`` over the same bronze files."""
    from big_data_streaming_dashboard_spark.operators.pipeline import batch_pipeline
    from big_data_streaming_dashboard_spark.sources.streams import BRONZE_STREAM_SCHEMA

    bronze = spark.read.schema(BRONZE_STREAM_SCHEMA).parquet(in_dir)
    cols = ["event_id", "dedup_key", "status", "route", "timestamp", "temporal_batch_size",
            "event_time"]
    return batch_pipeline(bronze).select(*cols).toPandas()


def final_watermark_s(progress: list[dict]) -> float:
    import pandas as pd

    for p in reversed(progress):
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            return pd.Timestamp(wm).timestamp()
    return 0.0


def check_routed(run, emitted, ref, progress: list[dict]) -> dict:
    """Every emitted row against ``batch_pipeline`` over the same files.

    Dirty rows must match in count and keys. Each emitted valid row must
    carry the reference's route and ``temporal_batch_size`` for its
    dedup key. Valid rows the stream did not emit must be accounted
    for: rows without an event time (their captured_time does not
    parse, so no window holds them -- the delta tests/test_streaming.py
    compares around), rows of windows still open at the final
    watermark, and rows dropped as late, whose count must equal the
    state operators' ``numRowsDroppedByWatermark``. A second that lost
    late rows expects its batch size minus those rows.
    """
    em_dirty = emitted[emitted["route"] == "dirty"]
    ref_dirty = ref[ref["route"] == "dirty"]
    run.check(len(em_dirty) == len(ref_dirty),
              f"dirty count {len(em_dirty)} != reference {len(ref_dirty)}")
    run.check(set(em_dirty["dedup_key"]) == set(ref_dirty["dedup_key"]), "dirty key sets differ")

    em = emitted[emitted["route"] != "dirty"]
    valid = ref[ref["status"] == "valid"]
    timeless = valid["event_time"].isna()
    run.check(not em["dedup_key"].isin(valid.loc[timeless, "dedup_key"]).any(),
              "a row without event time was emitted")
    rv = valid[~timeless].set_index("dedup_key")
    run.check(em["dedup_key"].is_unique, "a valid key was emitted twice")
    known = em["dedup_key"].isin(rv.index)
    run.check(bool(known.all()), f"{int((~known).sum())} emitted keys absent from the reference")
    em = em[known]

    window_end = np.floor(rv["event_time"].astype("int64").to_numpy() / 1e9) + 1.0
    missing = ~rv.index.isin(em["dedup_key"])
    still_open = missing & (window_end > final_watermark_s(progress))
    dropped = missing & ~still_open
    spark_dropped = sum(s["dropped_by_watermark"]
                        for s in stats.progress_summary(progress)["state"])
    run.check(int(dropped.sum()) == spark_dropped,
              f"{int(dropped.sum())} unemitted closed-window rows vs "
              f"{spark_dropped} numRowsDroppedByWatermark")

    second = rv["timestamp"].str.slice(0, 19)
    lost_per_second = second[dropped].value_counts()
    exp = rv.loc[em["dedup_key"]]
    exp_size = exp["temporal_batch_size"].to_numpy() - second.loc[em["dedup_key"]].map(
        lost_per_second).fillna(0).to_numpy()
    bad_route = int((exp["route"].to_numpy() != em["route"].to_numpy()).sum())
    bad_size = int((exp_size != em["temporal_batch_size"].to_numpy()).sum())
    run.check(bad_route == 0, f"{bad_route} rows routed differently from batch_pipeline")
    run.check(bad_size == 0, f"{bad_size} rows with another temporal_batch_size")
    return {
        "rows_emitted": len(emitted),
        "timeless_rows": int(timeless.sum()),
        "open_rows": int(still_open.sum()),
        "dropped_rows": int(dropped.sum()),
        "kept_other_duplicate": int((exp["event_id"].to_numpy() != em["event_id"].to_numpy()).sum()),
    }


def alerts_stream(spark, in_dir: str, tracer):
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.operators.alerts import alert_candidates
    from big_data_streaming_dashboard_spark.streaming.pipeline import silver_stream
    from big_data_streaming_dashboard_spark.streaming.stateful import exact_cooldown_stream

    bronze = bronze_stream(spark, in_dir, tracer)
    with tracer.span("pipeline.silver_stream"):
        silver = silver_stream(bronze)
    return exact_cooldown_stream(alert_candidates(silver.filter(F.col("status") == "valid")))


def check_alerts(run, spark, in_dir: str, out_dir: str) -> int:
    """The alerts lane's output against ``exact_cooldown_batch`` over
    the deduplicated valid rows of the same files. Compared on the
    alert's content, not its event_id: either copy of a duplicate may
    be the one kept."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.operators.alerts import alert_candidates
    from big_data_streaming_dashboard_spark.operators.dedup import first_occurrence_dedup
    from big_data_streaming_dashboard_spark.operators.validate import validate_enrich
    from big_data_streaming_dashboard_spark.sources.streams import BRONZE_STREAM_SCHEMA
    from big_data_streaming_dashboard_spark.streaming.stateful import exact_cooldown_batch

    bronze = spark.read.schema(BRONZE_STREAM_SCHEMA).parquet(in_dir)
    points = first_occurrence_dedup(validate_enrich(bronze)).filter(F.col("status") == "valid")
    ref = exact_cooldown_batch(alert_candidates(points)).select(*ALERT_COLS).toPandas()
    got = spark.read.parquet(out_dir).select(*ALERT_COLS).toPandas()

    def content(df):
        return sorted(map(tuple, df[ALERT_COLS].astype(str).to_numpy().tolist()))

    run.check(content(got) == content(ref),
              f"alerts differ from exact_cooldown_batch ({len(got)} vs {len(ref)} rows)")
    return len(got)


# --- the workload ---------------------------------------------------------------


def drain(run) -> dict:
    n_files = max(2, round(run.seconds * NOMINAL_RATE / FILE_ROWS))
    base = os.path.join(run.work, "drain")
    in_dir = os.path.join(base, "in")
    with run.phase("inputs"):
        backlog = gen.make_bronze(run.seed, n_files * FILE_ROWS, EPOCH_S)
        gen.write_bronze_files(backlog, in_dir, FILE_ROWS)

    spark = run.setup(lambda s, i: warm_pass(run, s, i))
    res: dict = {}
    with run.phase("measure"):
        before = env.stage_totals(spark) if run.trace else None
        n_spans = len(run.tracer.spans)
        clock = env.CpuClock(spark)
        clock.start()
        wall, progress, emit, start = drain_routed(run, spark, in_dir, os.path.join(base, "q"))
        run.cpu_s, run.steal_s = clock.stop()
        res["measured_spans"] = len(run.tracer.spans) - n_spans
        run.live_heap_mb = env.live_heap_mb(spark)
        if run.trace:
            after = env.stage_totals(spark)
            res["shuffle_mb"] = after["shuffle_write_mb"] - before["shuffle_write_mb"]
            res["spill_mb"] = after["spill_mb"] - before["spill_mb"]
    summary = stats.progress_summary(progress)
    run.attempted += summary["triggers"]  # each micro-batch is an operation

    with run.phase("check.read"):
        emitted = routed_output(os.path.join(base, "q", "out"))
    with run.phase("check.ref"):
        ref = reference_routed(spark, in_dir)
    with run.phase("check.compare"):
        res["checks"] = check_routed(run, emitted, ref, progress)
    if run.trace:  # the in-stream route counts against the written rows
        observed = {}
        for p in progress:
            for r, n in p.get("observedMetrics", {}).get("routes", {}).items():
                observed[r] = observed.get(r, 0) + n
        written = emitted["route"].value_counts().to_dict()
        run.check(all(observed.get(r, 0) == written.get(r, 0) for r in set(observed) | set(written)),
                  f"observed route counts {observed} != written {written}")
    emit_t = np.array([emit.t[(int(e), r)] for e, r in zip(emitted["epoch"], emitted["route"])])
    res.update(
        throughput_per_s=len(backlog) / wall,
        latency_ms=(emit_t - start) * 1000.0,
        wall_s=wall,
        rows=len(backlog),
        progress=summary,
        routes=emitted["route"].value_counts().to_dict(),
        ref_rows=len(ref),
        ref_valid=int((ref["status"] == "valid").sum()),
    )
    if run.trace:
        with run.phase("trace_extras"):
            res.update(trace_extras(run, spark, backlog, base))
    return res


def trace_extras(run, spark, backlog: gen.Bronze, base: str) -> dict:
    """Traced run only: the alerts lane, per-stage self time from
    progressively longer prefixes, and the single-core drain, each over
    one ``STAGE_ROWS`` file."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.operators.validate import validate_enrich
    from big_data_streaming_dashboard_spark.plans.registry import clear_engine_caches
    from big_data_streaming_dashboard_spark.streaming.pipeline import silver_stream

    one = os.path.join(base, "one")
    os.makedirs(one)
    pq.write_table(backlog.table(0, STAGE_ROWS), os.path.join(one, "part-00000.parquet"))
    out: dict = {}

    def alerts_sink(batch, epoch_id):
        with run.tracer.span("sinks.alerts_batch", epoch=epoch_id):
            batch.write.mode("overwrite").parquet(os.path.join(base, "alerts", f"epoch={epoch_id}"))

    with run.tracer.span("workload.alerts"):
        out["alerts_wall_s"], prog = drain_query(
            alerts_stream(spark, one, run.tracer), alerts_sink, os.path.join(base, "ck-alerts"))
    out["alerts_progress"] = stats.progress_summary(prog)
    out["alerts_emitted"] = check_alerts(run, spark, one, os.path.join(base, "alerts"))
    out["alert_candidates"] = int(
        spark.read.parquet(one).filter(F.col("value").try_cast("double") >= 1000).count())

    prefixes = [
        ("bronze", lambda: bronze_stream(spark, one, run.tracer), _noop_sink),
        ("validate", lambda: validate_enrich(bronze_stream(spark, one, run.tracer)), _noop_sink),
        ("dedup", lambda: silver_stream(bronze_stream(spark, one, run.tracer),
                                        bounded_state=False), _noop_sink),
        ("temporal", lambda: routed_stream(spark, one, run.tracer), _noop_sink),
        ("route_sink", lambda: routed_stream(spark, one, run.tracer),
         routed_sink(os.path.join(base, "prefix-out"), run.tracer, EmitLog())),
    ]
    prev = 0.0
    for name, build, sink in prefixes:
        with run.tracer.span("workload.prefix", stage=name):
            wall, _ = drain_query(build(), sink, os.path.join(base, f"ck-prefix-{name}"))
        out[f"stage.{name}_s"] = max(0.0, wall - prev)
        prev = wall

    # single core: a new session on local[1] in the same JVM
    clear_engine_caches()
    spark.stop()
    one_core = run.session(cpus=1)
    wall, _ = drain_query(routed_stream(one_core, one, run.tracer),
                          routed_sink(os.path.join(base, "1core-out"), run.tracer, EmitLog()),
                          os.path.join(base, "ck-1core"))
    out["stage.rows_per_s_1core"] = STAGE_ROWS / wall
    return out
