"""Unit tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

N = 30_000


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def bronze():
    return gen.make_bronze(11, N, 1.7e9)


def test_bronze_same_seed_same_bytes_new_seed_new_data(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_bronze_files(gen.make_bronze(seed, 5_000, 1.7e9), str(tmp_path / d), 2_000)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_sf_dir_same_seed_same_bytes_new_seed_new_data(tmp_path):
    counts = {}
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        counts[d] = gen.make_sf_dir(seed, str(tmp_path / d), 0.002)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert set(counts["a"]) == {"region", "nation", "customer", "supplier", "part", "orders",
                                "lineitem", "events", "documents", "embeddings"}
    assert all(n > 0 for n in counts["a"].values())


def test_every_row_class_has_its_share(bronze):
    cls = bronze.row_class
    for name, share in gen.CLASS_SHARES.items():
        got = float(np.mean(cls == name))
        assert 0.7 * share < got < 1.3 * share, (name, got)


def test_dirt_lattice_rejection_classes_present(bronze):
    c = bronze.columns
    eid = c["event_id"]
    ct = c["captured_time"]
    assert sum(v is None for v in ct) >= N // 401 - 2  # missing field
    assert "not-a-time" in set(ct)
    assert any(isinstance(v, str) and v.endswith("+09:00") for v in ct)
    assert any(isinstance(v, str) and v.endswith("Z") for v in ct)
    assert any(isinstance(v, str) and v.endswith(".123") for v in ct)
    for col, bad in (("latitude", "abc"), ("longitude", ""), ("value", "oops"), ("value", "0"),
                     ("unit", "usv"), ("unit", "CPM")):
        assert bad in set(c[col]), (col, bad)
    base = bronze.row_class == "base"
    out_of_range = base & (eid % 103 == 0) & (eid % 211 != 0)
    assert all(abs(float(v)) > 90 for v in c["latitude"][out_of_range])


def test_duplicates_share_the_dedup_key_fields(bronze):
    c = bronze.columns
    keyed = ("captured_time", "latitude", "longitude", "value", "unit")
    idx = np.flatnonzero(bronze.row_class == "dup_exact")
    rows = {tuple(c[k][i] for k in keyed) for i in range(len(bronze))
            if bronze.row_class[i] != "dup_exact"}
    # an exact duplicate repeats every keyed field of some other row
    hits = sum(tuple(c[k][i] for k in keyed) in rows for i in idx)
    assert hits >= 0.9 * len(idx)


def test_round_duplicates_differ_only_beyond_the_key_precision(bronze):
    c = bronze.columns
    idx = np.flatnonzero(bronze.row_class == "dup_round")
    tails = [i for i in idx if isinstance(c["latitude"][i], str) and c["latitude"][i].endswith("0004")]
    assert len(tails) > 0.5 * len(idx)
    for i in tails:
        lat = c["latitude"][i]
        assert round(float(lat), 5) == round(float(lat[:-4]), 5)


def test_out_of_order_rows_inside_and_beyond_the_watermark(bronze):
    lag = np.floor(bronze.created_s) - bronze.event_s
    ooo = lag[bronze.row_class == "ooo_in"]
    late = lag[bronze.row_class == "ooo_late"]
    assert ooo.min() >= 1 and ooo.max() <= gen.OOO_MAX_S < 5
    assert late.min() >= gen.LATE_MIN_S > 5 and late.max() <= gen.LATE_MAX_S
    assert (lag[bronze.row_class == "base"] == 0).all()


def test_shared_second_clusters_follow_the_rate(bronze):
    per_second = np.bincount(bronze.event_s - bronze.event_s.min())
    assert np.median(per_second[1:-1]) > 900  # ~1,000 rows per event-second


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([7.0], 99) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.tail_mean(range(1, 101), 0.25) == pytest.approx(88.0)  # mean of 76..100
    assert stats.tail_mean([5.0, 1.0], 0.25) == 5.0
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def _progress(rows, dur, state):
    return {"numInputRows": rows, "durationMs": dur, "stateOperators": state}


def test_progress_summary_keeps_operators_apart_by_index():
    def op(name, rows, mem, commit, dropped=0):
        return {"operatorName": name, "numRowsTotal": rows, "memoryUsedBytes": mem,
                "commitTimeMs": commit, "numRowsDroppedByWatermark": dropped}

    log = [
        _progress(100, {"triggerExecution": 900, "addBatch": 700, "walCommit": 20},
                  [op("stateStoreSave", 5, 2**20, 10, 1), op("dedupe", 100, 2**21, 30),
                   op("dedupe", 100, 2**21, 50)]),
        _progress(50, {"triggerExecution": 700, "addBatch": 500, "walCommit": 40},
                  [op("stateStoreSave", 3, 2**20, 20, 2), op("dedupe", 150, 3 * 2**20, 10),
                   op("dedupe", 150, 3 * 2**20, 70)]),
        _progress(0, {"triggerExecution": 300, "addBatch": 100, "walCommit": 30},
                  [op("stateStoreSave", 0, 2**20, 30), op("dedupe", 150, 3 * 2**20, 20),
                   op("dedupe", 150, 3 * 2**20, 90)]),
    ]
    s = stats.progress_summary(log)
    assert (s["triggers"], s["data_triggers"], s["no_data_triggers"], s["rows"]) == (3, 2, 1, 150)
    assert s["batch_rows"] == [100, 50]
    assert s["phase_ms_p50"] == {"addBatch": 500, "triggerExecution": 700, "walCommit": 30}
    assert [o["name"] for o in s["state"]] == ["stateStoreSave", "dedupe", "dedupe"]
    assert s["state"][0]["dropped_by_watermark"] == 3
    assert s["state"][1]["commit_ms_p50"] == 20 and s["state"][2]["commit_ms_p50"] == 70
    assert s["state"][1]["rows_total"] == 150 and s["state"][2]["mem_mb"] == 3.0


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 1, "parent": None, "name": "batch", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "write", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "write", "start": 3.0, "end": 6.0},  # overlaps
        {"id": 4, "parent": 1, "name": "write", "start": 9.0, "end": 12.0},  # runs past
    ]
    got = stats.self_times(spans)
    assert got["batch"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["write"] == pytest.approx(9.0)


def test_tracer_records_parents():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, = t.by_name("outer")
    inner, = t.by_name("inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run"] == "r" and t.span_cost_s(100) > 0
    off = Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.0]
    assert stats.quartile_spread(vals) == pytest.approx((10.35 - 9.875) / 10.05)


def test_benchmark_json_names_match_the_code():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
