"""Seeded input generator for the benchmark.

Everything the workloads read is made here from the ``--seed`` value, so
the same seed gives byte-identical files and the program under test only
ever sees the generated inputs:

- bronze radiation rows for the two streaming workloads, carrying the
  dirt lattice of ``tables.bronze_radiation`` (rejection classes keyed on
  ``event_id`` modulus) re-timed to ``rate`` rows per event-second, plus
  seeded shares of the FIXTURES.md row classes (exact duplicates,
  duplicates that differ only beyond the rounding precision, shared
  cooldown cells, out-of-order rows inside and beyond the watermark);
- an sf-shaped table directory (the ten fixture tables, documents with
  seeded near-duplicates, embeddings with jittered copies) for the query
  fleet.

Only numpy and pyarrow are used: no Spark session is needed to build the
inputs, and generation time is kept out of every timed metric.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# FIXTURES.md row classes layered on top of the dirt lattice. Shares are
# of all generated rows; the rest are plain in-order ("base") rows.
CLASS_SHARES = {
    "dup_exact": 0.02,  # byte-identical copy of a recent row (new event_id)
    "dup_round": 0.01,  # copy whose numbers differ only beyond the key precision
    "sensor": 0.01,  # critical reading from one of a few fixed cells
    "ooo_in": 0.02,  # event time 1-4 s behind creation (inside the 5 s watermark)
    "ooo_late": 0.01,  # event time 12-20 s behind creation (beyond the watermark)
}
SENSOR_CELLS = ((35.6812, 139.7671), (37.4214, 141.0325), (-33.8688, 151.2093),
                (51.5072, -0.1276), (40.7128, -74.006))
DUP_LOOKBACK = 200  # a duplicate copies one of the previous 200 rows
LATE_MIN_S, LATE_MAX_S = 12, 20
OOO_MAX_S = 4

BRONZE_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("captured_time", pa.string()),
        ("latitude", pa.string()),
        ("longitude", pa.string()),
        ("value", pa.string()),
        ("unit", pa.string()),
        ("ingestion_timestamp", pa.int64()),
    ]
)


@dataclass
class Bronze:
    """Bronze rows in creation order, with the generator's own labels."""

    columns: dict[str, np.ndarray]  # BRONZE_SCHEMA columns
    created_s: np.ndarray  # creation instant, seconds on the generator clock
    event_s: np.ndarray  # event second the captured_time encodes
    row_class: np.ndarray  # "base" or a CLASS_SHARES name, per row

    def __len__(self) -> int:
        return len(self.created_s)

    def table(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        hi = len(self) if hi is None else hi
        return pa.table(
            {name: self.columns[name][lo:hi] for name in BRONZE_SCHEMA.names},
            schema=BRONZE_SCHEMA,
        )


def _fmt2(x: np.ndarray) -> np.ndarray:
    return np.array(["%.2f" % v for v in x.tolist()], dtype=object)


def _ts_strings(event_s: np.ndarray) -> np.ndarray:
    # one strftime per distinct second (~1,000 rows share each)
    secs, inverse = np.unique(event_s, return_inverse=True)
    text = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    return np.array([t.replace("T", " ") for t in text.tolist()], dtype=object)[inverse]


def make_bronze(seed: int, n_rows: int, start_s: float, rate: float = 1000.0) -> Bronze:
    """``n_rows`` bronze rows created at ``rate`` rows/s from ``start_s``.

    The dirt lattice is the one ``tables.bronze_radiation`` derives from
    ``events`` (same moduli on ``event_id``, same rejection classes), so
    every validator branch sees rows; lat/lon/CPM values are seeded.
    """
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    eid = np.arange(n, dtype=np.int64)
    created = start_s + eid / rate
    cls = np.full(n, "base", dtype=object)
    u = rng.random(n)
    edge = 0.0
    for name, share in CLASS_SHARES.items():
        cls[(u >= edge) & (u < edge + share)] = name
        edge += share
    cls[:DUP_LOOKBACK] = "base"  # duplicates need an earlier row to copy

    event_s = np.floor(created).astype(np.int64)
    ooo = cls == "ooo_in"
    event_s[ooo] -= rng.integers(1, OOO_MAX_S + 1, ooo.sum())
    late = cls == "ooo_late"
    event_s[late] -= rng.integers(LATE_MIN_S, LATE_MAX_S + 1, late.sum())

    lat = np.round(rng.uniform(-89.99, 89.99, n), 2)
    lon = np.round(rng.uniform(-179.99, 179.99, n), 2)
    cpm = np.round(rng.exponential(200.0, n) + 0.5, 2)
    sensor = cls == "sensor"
    cell = rng.integers(0, len(SENSOR_CELLS), sensor.sum())
    cells = np.array(SENSOR_CELLS)
    cpm[sensor] = np.round(rng.uniform(1000.0, 3000.0, sensor.sum()), 2)
    # late rows stay below the alert threshold: the alerts lane drops
    # them at its watermark, and they have their own accounting there
    cpm[late] = np.minimum(cpm[late], 999.0)

    ts = _ts_strings(event_s)
    captured = ts.copy()
    captured[eid % 19 == 0] = ts[eid % 19 == 0] + ".123"  # fractional
    captured[eid % 17 == 0] = ts[eid % 17 == 0] + "Z"  # zulu suffix
    captured[eid % 13 == 0] = ts[eid % 13 == 0] + "+09:00"  # tz suffix
    captured[eid % 997 == 0] = "not-a-time"  # unparseable
    captured[eid % 401 == 0] = None  # missing field

    lat_s = _fmt2(lat)
    lon_s = _fmt2(lon)
    lat_s[sensor] = np.char.mod("%.4f", cells[cell, 0]).astype(object)
    lon_s[sensor] = np.char.mod("%.4f", cells[cell, 1]).astype(object)
    lat_s[eid % 103 == 0] = _fmt2(lat[eid % 103 == 0] + 200.0)  # out of range
    lat_s[eid % 211 == 0] = "abc"  # non-numeric
    lon_s[eid % 113 == 0] = _fmt2(lon[eid % 113 == 0] + 400.0)
    lon_s[eid % 223 == 0] = ""
    val_s = _fmt2(cpm)
    val_s[eid % 109 == 0] = "0"  # rounds to <= 0
    val_s[eid % 107 == 0] = _fmt2(0.0 - cpm[eid % 107 == 0])  # negative
    val_s[eid % 227 == 0] = "oops"  # non-numeric
    unit = np.full(n, "cpm", dtype=object)
    unit[eid % 97 == 0] = "CPM"  # case normalisation
    unit[eid % 101 == 0] = "usv"  # wrong unit

    # duplicates copy every keyed field of an earlier row; event_id and
    # ingestion time stay their own
    for name in ("dup_exact", "dup_round"):
        idx = np.flatnonzero(cls == name)
        src = idx - rng.integers(1, DUP_LOOKBACK + 1, len(idx))
        captured[idx] = captured[src]
        event_s[idx] = event_s[src]
        lat_s[idx], lon_s[idx] = lat_s[src], lon_s[src]
        val_s[idx], unit[idx] = val_s[src], unit[src]
        cpm[idx] = cpm[src]
        if name == "dup_round":
            # digits past the key precision (5 dp coords, 2 dp value):
            # the strings differ, the dedup key does not
            for arr, tail in ((lat_s, "0004"), (lon_s, "0003"), (val_s, "4")):
                for i in idx:
                    s = arr[i]
                    if s is not None and s.count(".") == 1 and len(s.split(".")[1]) == 2:
                        arr[i] = s + tail

    cols = {
        "event_id": eid,
        "captured_time": captured,
        "latitude": lat_s,
        "longitude": lon_s,
        "value": val_s,
        "unit": unit,
        "ingestion_timestamp": np.floor(created * 1000.0).astype(np.int64),
    }
    return Bronze(cols, created, event_s, cls)


def write_bronze_files(bronze: Bronze, out_dir: str, rows_per_file: int) -> list[str]:
    """Write the rows in creation order, ``rows_per_file`` per file."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lo in enumerate(range(0, len(bronze), rows_per_file)):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(bronze.table(lo, lo + rows_per_file), path)
        paths.append(path)
    return paths


# --- sf-shaped fixture tables -----------------------------------------------

_WORDS = (
    "the a data stream spark batch window join key value row column table "
    "query filter group order sort merge hash scan agg part line customer "
    "small big fast slow dup sensor city reading level alert map grid cell "
    "signal noise count sum event time second minute hour day night dose "
    "rate peak mean low high moderate critical normal dirty route shard page"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh", "ja"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["small", "red", "blue", "green", "large", "ring", "widget", "gear", "bolt"]
EMBEDDING_DIM = 64


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(np.int64)), n)).astype("datetime64[us]")


NEAR_DUP_SHARE = 0.1  # documents derived from an earlier one
JITTER_SHARE = 0.05  # embeddings that are jittered copies of an earlier one


def _documents(rng, n: int) -> pa.Table:
    """Documents with seeded exact copies, near-duplicates and excerpts."""
    # Zipf-ish word choice so common words repeat like real text
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    lens = rng.integers(12, 90, n)
    flat = rng.choice(len(_WORDS), lens.sum(), p=p / p.sum())
    vocab = np.array(_WORDS, dtype=object)
    ends = np.cumsum(lens)
    text = [" ".join(vocab[flat[e - L:e]]) for e, L in zip(ends, lens)]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(n):
        j = int(src[i])
        if j >= i or kind[i] >= NEAR_DUP_SHARE:
            continue
        words = text[j].split()
        if kind[i] < NEAR_DUP_SHARE * 0.25:  # exact copy
            text[i] = text[j]
        elif kind[i] < NEAR_DUP_SHARE * 0.85:  # light edit of a few words
            for pos in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[pos] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            text[i] = " ".join(words)
        else:  # excerpt of a longer page
            text[i] = " ".join(words[: max(4, len(words) // 2)])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)).astype(object),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Clustered unit-scale vectors; a share are jittered copies."""
    centers = rng.normal(0.0, 0.15, (10, EMBEDDING_DIM))
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(0.0, 0.08, (n, EMBEDDING_DIM))
    copy = np.flatnonzero(rng.random(n) < JITTER_SHARE)
    copy = copy[copy > 0]
    src = (rng.random(len(copy)) * copy).astype(np.int64)
    vecs[copy] = vecs[src] + rng.normal(0.0, 1e-3, (len(copy), EMBEDDING_DIM))
    label[copy] = label[src]
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBEDDING_DIM + 1, EMBEDDING_DIM, dtype=np.int32)), flat
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
         "label": label.astype(np.int32)}
    )


def make_sf_dir(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """The ten fixture tables at scale ``sf`` (row counts follow the
    sf fixtures of TESTDATA.md: 1M events, 6M lineitem, 50k documents per sf 1).
    Returns row counts by table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400 * 1_000_000, n_ev
    ).astype("timedelta64[us]")
    ev_ts.sort()

    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_PART_WORDS[a]} {_PART_WORDS[b]}"
                    for a, b in rng.integers(0, len(_PART_WORDS), (n_part, 2))
                ],
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
                "p_type": np.array(_PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": retail,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
                "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": l_ok,
                "l_partkey": l_part.astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": l_ln,
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[l_part], 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05"),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": rng.integers(0, max(10, n_ev // 67), n_ev).astype(np.int64),
                "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": np.char.add(
                    np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
                ).astype(object),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
