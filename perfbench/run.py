"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed
under ``.perfbench/`` (the only place it writes), runs the workload
through the package's public functions, checks the outputs, and prints
as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
run's provenance (cpus, memory, versions, load at start), the per-phase
walls and any failure. Exits non-zero without a result when the package
or an input cannot be used.

Workloads:

- ``stream_drain`` (closed loop): ``full_stream`` drains a seeded bronze
  backlog of 50k-row micro-batches into the routed parquet sink.
- ``batch_fleet`` (closed loop, one client): the 20 headline registry
  queries, one pass per 6 s of ``--seconds``, on a warm session over a
  seeded sf-shaped directory.

End-to-end metrics, printed for both workloads:

- ``setup_s``: median of three set-ups in the run. A set-up is
  ``get_spark`` plus the workload's preparation: the warm-up drain for
  ``stream_drain``; the bronze derivation and the persisted shared
  stages for ``batch_fleet``. The first set-up also launches the JVM.
- ``throughput_per_s``: input rows per second of drain wall
  (``stream_drain``); queries completed per second (``batch_fleet``).
- ``latency_geomean_ms``/``latency_tail25_ms``: the geometric mean, and
  the mean of the slowest quarter, of the latency per emitted row (from
  the drain's start to the end of the write that emitted it;
  ``stream_drain``) or per query (plan plus execution; ``batch_fleet``).
  They stand in for the median and a high percentile: an order statistic
  of twenty different queries sits in a gap between clusters of query
  times, and moved 11-21% between identical runs.
- ``live_heap_mb``: JVM heap still in use after a full collection at the
  end of the measured phase (state stores, cached tables, plan caches).
  Sampled process RSS swung 1.6-2.9 GB between identical runs on a
  4-vCPU VM, with the collector's sizing, so the retained heap stands in
  for it.

Times are read on ``env.clock``: wall time minus the hypervisor steal
over the interval divided by the vCPU count. On a shared 4-vCPU VM the
host took 1-25% of the vCPU time in bursts lasting minutes, which moved
raw walls by up to 35% between identical runs; the measured phase's CPU
seconds and steal are printed with every result.

Failed operations (a micro-batch, a query, an output check) are counted
in ``failed`` against ``attempted``. The traced run (``--trace 1``) does
the same work with spans recorded around every call into the package,
plus the per-layer extras, and prints the per-layer metrics; a layer
that does no work in a workload reports 0 there. Its
``trace.overhead_share`` is the spans recorded in the measured phase
times the measured cost of one span, over that phase's wall: two whole
runs on one box differ by more than that from noise alone.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
WORKLOADS = ("stream_drain", "batch_fleet")
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_geomean_ms": "ms",
    "latency_tail25_ms": "ms",
    "live_heap_mb": "MB",
}
# full_stream's state operators, in stateOperators order
STATE_NAMES = ("window", "dedupe0", "dedupe1")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in BENCHMARK.json order."""
    import fleet

    names = [
        ("session.get_spark_s", "s"),
        ("session.warmup_s", "s"),
        ("tables.bronze_build_s", "s"),
        ("registry.shared_stage_s", "s"),
        ("sources.latest_offset_ms_p50", "ms"),
        ("sources.get_batch_ms_p50", "ms"),
        ("sources.batch_rows_p50", "count"),
        ("pipeline.build_ms", "ms"),
        ("pipeline.query_planning_ms_p50", "ms"),
        ("pipeline.wal_commit_ms_p50", "ms"),
        ("pipeline.commit_offsets_ms_p50", "ms"),
        ("pipeline.trigger_ms_p50", "ms"),
        ("pipeline.trigger_ms_p90", "ms"),
        ("pipeline.add_batch_ms_p50", "ms"),
        ("pipeline.no_data_batches", "count"),
        ("stage.bronze_s", "s"),
        ("stage.validate_s", "s"),
        ("stage.dedup_s", "s"),
        ("stage.temporal_s", "s"),
        ("stage.route_sink_s", "s"),
        ("stage.rows_per_s_1core", "rows/s"),
        ("state.ops", "count"),
    ]
    for op in STATE_NAMES + ("cooldown",):
        names += [
            (f"state.{op}.rows_total", "count"),
            (f"state.{op}.mem_mb", "MB"),
            (f"state.{op}.commit_ms_p50", "ms"),
        ]
    names += [
        ("state.window.dropped_by_watermark", "count"),
        ("validate.invalid_share", "share"),
        ("dedup.kept_share", "share"),
        ("route.normal_rows", "count"),
        ("route.critical_rows", "count"),
        ("route.dirty_rows", "count"),
        ("alerts.emitted_share", "share"),
        ("sinks.batch_ms_p50", "ms"),
        ("sinks.batch_ms_p90", "ms"),
        ("sinks.write_ms_p50", "ms"),
        ("sinks.rows_written", "count"),
        ("cooldown.trigger_ms_p50", "ms"),
        ("cooldown.add_batch_ms_p50", "ms"),
        ("stream.shuffle_mb", "MB"),
        ("batch.shuffle_mb", "MB"),
        ("spill_mb", "MB"),
    ]
    for q in fleet.QUERIES:
        names += [(f"q.{q}.plan_ms", "ms"), (f"q.{q}.exec_ms", "ms")]
    names += [("gen.rows_written", "count"), ("trace.overhead_share", "share")]
    return names


class Run:
    """State of one benchmark run: counters, tracer, measured-phase
    resources, and the session set-up shared by every workload."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer(f"{workload}-{seed}", enabled=trace)
        self.live_heap_mb = 0.0
        self.cpu_s = 0.0  # CPU seconds of the measured phase (JVM tree + this process)
        self.steal_s = 0.0  # hypervisor steal over the measured phase
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.provenance: dict = {}
        self.phase_s: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall seconds of a coarse phase (inputs, setup, measure, check),
        reported with the result so a slow run can be explained."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    def check(self, ok: bool, message: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(message)

    def attempt(self, fn):
        """Run one operation; a raised error counts as a failure."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # a failed query is counted, the loop goes on
            self.failed += 1
            self.failures.append(f"{type(e).__name__}: {e}"[:500])
            return False, None

    def session(self, cpus: int | None = None):
        from big_data_streaming_dashboard_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            return get_spark(
                app_name=f"perfbench-{self.workload}",
                cpus=cpus or env.cpus(),
                extra_conf=env.session_conf(self.work),
            )

    def setup(self, prepare):
        """``SETUPS`` set-ups: ``get_spark`` then ``prepare(spark, i)``.
        All but the last session are stopped, with the engine caches
        cleared; the first set-up also launches the JVM."""
        from big_data_streaming_dashboard_spark.plans.registry import clear_engine_caches

        spark = None
        with self.phase("setup"):
            for i in range(SETUPS):
                t0 = env.clock()
                spark = self.session()
                t1 = env.clock()
                if i == 0:
                    self.provenance = env.provenance(spark)
                with self.tracer.span("session.setup", setup=i):
                    prepare(spark, i)
                self.setup_s.append(env.clock() - t0)
                self.get_spark_s.append(t1 - t0)
                if i < SETUPS - 1:
                    with self.tracer.span("registry.clear_engine_caches"):
                        clear_engine_caches()
                    spark.catalog.clearCache()
                    spark.stop()
        return spark


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(run: Run, res: dict) -> dict:
    lat = res["latency_ms"]
    vals = {
        "setup_s": stats.median(run.setup_s),
        "throughput_per_s": res["throughput_per_s"],
        "latency_geomean_ms": stats.geomean(lat),
        "latency_tail25_ms": stats.tail_mean(lat, 0.25),
        "live_heap_mb": run.live_heap_mb,
    }
    return {name: _m(vals[name], unit) for name, unit in E2E_UNITS.items()}


def _span_ms(run: Run, name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1000.0 for s in run.tracer.by_name(name)]


def _stream_layers(run: Run, res: dict) -> dict[str, float]:
    p = res["progress"]
    ph = p["phase_ms_p50"]
    vals = {
        "session.warmup_s": stats.median(a - b for a, b in zip(run.setup_s, run.get_spark_s)),
        "sources.latest_offset_ms_p50": ph.get("latestOffset", 0.0),
        "sources.get_batch_ms_p50": ph.get("getBatch", 0.0),
        "sources.batch_rows_p50": stats.median(p["batch_rows"]),
        "pipeline.build_ms": stats.median(_span_ms(run, "pipeline.full_stream")),
        "pipeline.query_planning_ms_p50": ph.get("queryPlanning", 0.0),
        "pipeline.wal_commit_ms_p50": ph.get("walCommit", 0.0),
        "pipeline.commit_offsets_ms_p50": ph.get("commitOffsets", 0.0),
        "pipeline.trigger_ms_p50": stats.median(p["trigger_ms"]),
        "pipeline.trigger_ms_p90": stats.percentile(p["trigger_ms"], 90),
        "pipeline.add_batch_ms_p50": ph.get("addBatch", 0.0),
        "pipeline.no_data_batches": p["no_data_triggers"],
        "state.ops": len(p["state"]),
    }
    vals.update({k: v for k, v in res.items() if k.startswith("stage.")})
    for name, op in zip(STATE_NAMES, p["state"]):
        vals[f"state.{name}.rows_total"] = op["rows_total"]
        vals[f"state.{name}.mem_mb"] = op["mem_mb"]
        vals[f"state.{name}.commit_ms_p50"] = op["commit_ms_p50"]
    if p["state"]:
        vals["state.window.dropped_by_watermark"] = p["state"][0]["dropped_by_watermark"]
    a = res["alerts_progress"]
    if a["state"]:
        op = a["state"][-1]
        vals["state.cooldown.rows_total"] = op["rows_total"]
        vals["state.cooldown.mem_mb"] = op["mem_mb"]
        vals["state.cooldown.commit_ms_p50"] = op["commit_ms_p50"]
    vals["cooldown.trigger_ms_p50"] = stats.median(a["trigger_ms"])
    vals["cooldown.add_batch_ms_p50"] = a["phase_ms_p50"].get("addBatch", 0.0)
    routes = res["routes"]
    vals["validate.invalid_share"] = 1.0 - res["ref_valid"] / res["ref_rows"]
    vals["dedup.kept_share"] = res["ref_rows"] / res["rows"]
    for r in ("normal", "critical", "dirty"):
        vals[f"route.{r}_rows"] = routes.get(r, 0)
    vals["alerts.emitted_share"] = res["alerts_emitted"] / max(1, res["alert_candidates"])
    # the sink spans of the measured drain (the last drain to finish)
    measured = run.tracer.by_name("workload.drain")[-1]["id"]
    batches = [s for s in run.tracer.by_name("sinks.route_foreach_batch")
               if s["parent"] == measured]
    ids = {s["id"] for s in batches}
    writes = [s for s in run.tracer.by_name("sinks.write_route") if s["parent"] in ids]
    batch_ms = [(s["end"] - s["start"]) * 1000.0 for s in batches]
    vals["sinks.batch_ms_p50"] = stats.median(batch_ms)
    vals["sinks.batch_ms_p90"] = stats.percentile(batch_ms, 90)
    vals["sinks.write_ms_p50"] = stats.median((s["end"] - s["start"]) * 1000.0 for s in writes)
    vals["sinks.rows_written"] = sum(routes.values())
    vals["stream.shuffle_mb"] = res["shuffle_mb"]
    vals["spill_mb"] = res["spill_mb"]
    vals["gen.rows_written"] = res["rows"]
    return vals


def _fleet_layers(run: Run, res: dict) -> dict[str, float]:
    vals = {
        "session.warmup_s": res["warmup_s"],
        "tables.bronze_build_s": stats.median(res["bronze_build_s"]),
        "registry.shared_stage_s": stats.median(res["shared_stage_s"]),
        "batch.shuffle_mb": res["shuffle_mb"],
        "spill_mb": res["spill_mb"],
        "gen.rows_written": sum(res["rows"].values()),
    }
    for q, v in res["per_query"].items():
        vals[f"q.{q}.plan_ms"] = v["plan_ms"]
        vals[f"q.{q}.exec_ms"] = v["exec_ms"]
    return vals


def per_layer(run: Run, res: dict) -> dict:
    """Every per-layer metric; a layer that does no work in this
    workload reports 0."""
    layers = _fleet_layers if run.workload == "batch_fleet" else _stream_layers
    vals = layers(run, res)
    vals["session.get_spark_s"] = stats.median(run.get_spark_s)
    # spans recorded in the measured phase times what one span costs,
    # over that phase's wall: what tracing added to the measured work
    vals["trace.overhead_share"] = res["measured_spans"] * run.tracer.span_cost_s() / res["wall_s"]
    return {name: _m(vals.get(name, 0.0), unit) for name, unit in per_layer_names()}


def run_workload(run: Run) -> dict:
    if run.workload == "batch_fleet":
        import fleet

        return fleet.fleet(run)
    import streams

    return streams.drain(run)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env.prepare(work)
    try:
        import big_data_streaming_dashboard_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {root}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        res = run_workload(run)
        metrics = per_layer(run, res) if run.trace else end_to_end(run, res)
    except Exception:
        traceback.print_exc()
        print("perfbench: the run failed; no result", file=sys.stderr)
        return 1
    finally:
        env.shutdown_spark()
        if run.trace:
            run.tracer.write(os.path.join(work, "trace.jsonl"))
        for name in os.listdir(work):
            if name != "trace.jsonl":
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        if not os.listdir(work):
            os.rmdir(work)

    detail = {"workload": run.workload, "seed": run.seed, "provenance": run.provenance,
              "setup_s": run.setup_s, "phase_s": run.phase_s, "measure_cpu_s": run.cpu_s,
              "measure_steal_s": run.steal_s, "failures": run.failures}
    if run.trace:  # the ten largest span self times, seconds
        self_s = stats.self_times(run.tracer.spans)
        detail["self_s"] = dict(sorted(self_s.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
