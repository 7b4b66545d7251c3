"""Session caches and the physical decisions made past the scale gate.

Two kinds of engine state live here and nowhere else:

- **Session caches.** One dict keyed ``(applicationId, key, version)`` holds
  every memoized engine artifact: table handles, shared pipeline
  stages, the bronze derivation, the validator's column trees, the
  persisted derived indexes and plan handles of the near-dup family,
  and corpus counts. Entries of another application are dropped on
  the next miss (their session is gone; never ``id(spark)``, which is
  reused after a stopped session is GC'd). An entry replaced by a
  rewrite of the same input is unpersisted. `clear_engine_caches`
  empties the dict.
- **Decisions past the scale gate.** The broadcast-safety gate
  (`BROADCAST_SAFE_ROWS`), the size-conditional join hints, the
  pair-aggregate partition count, the measured-bytes broadcast budget
  shared by every broadcast of one query, the 31-bit id-range probe
  and the packed pair key. Below the gate every decision leaves the
  plan to Catalyst, so small-corpus plans are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

_CACHE: dict[tuple, object] = {}


def _holder_frames(obj):
    """Yield every DataFrame inside a cached holder -- the holder may be
    the frame itself or a (nested) list/tuple wrapper."""
    if isinstance(obj, DataFrame):
        yield obj
    elif isinstance(obj, (list, tuple)):
        for item in obj:
            yield from _holder_frames(item)


def session_cached(spark, key: tuple, build, version=None):
    """The value cached under ``key`` for this application, built on a
    miss. ``version`` identifies the input's current contents: an
    entry with the same key and another version is a rewrite of the
    same input, so it is dropped and every DataFrame it holds is
    unpersisted. Entries of other applications are dropped without an
    unpersist (their JVM cache is gone with their session)."""
    app_id = spark.sparkContext.applicationId
    entry = (app_id, key, version)
    if entry in _CACHE:
        return _CACHE[entry]
    for old in [k for k in list(_CACHE) if k[0] != app_id or k[1] == key]:
        value = _CACHE.pop(old, None)
        if old[0] == app_id:
            for frame in _holder_frames(value):
                frame.unpersist()
    value = _CACHE[entry] = build()
    return value


def clear_engine_caches(unpersist: bool = True) -> int:
    """Drop every session-cached entry, optionally unpersisting the
    DataFrames they hold first. For long-lived sessions that switch
    datasets or want executor storage back; `session_cached` handles
    the session-restart case by itself. Returns the number of evicted
    entries."""
    n = 0
    for key in list(_CACHE):
        value = _CACHE.pop(key, None)
        n += 1
        if unpersist:
            for frame in _holder_frames(value):
                try:
                    frame.unpersist()
                except Exception:
                    pass  # session already stopped -- JVM cache is gone
    return n


# past this many leaf files, skip per-file stat in the fingerprint:
# the listing itself already changes on any rewrite (part file names
# carry a fresh job UUID), and stat'ing 100k files per probe would
# cost more than the count job the cache avoids
_FINGERPRINT_STAT_CAP = 256


def _input_fingerprint(df: DataFrame) -> tuple:
    """Identity of the FILES behind a plan, not just the plan: the
    sorted leaf-file list plus (mtime_ns, size) for local files. The
    semanticHash alone goes stale when data under the same logical
    plan is rewritten or grows in place (single-file parquet keeps its
    name on overwrite) -- a stale small count would let Catalyst
    auto-broadcast a now-large side, reintroducing the driver-OOM the
    size gate exists to prevent."""
    files = sorted(df.inputFiles())
    if len(files) > _FINGERPRINT_STAT_CAP:
        return (len(files), hash(tuple(files)))
    stamped = []
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        try:
            st = os.stat(path)
            stamped.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            stamped.append((f, 0, 0))  # remote FS: name identity only
    return (len(files), hash(tuple(stamped)))


def plan_cached(df: DataFrame, tag: str, build):
    """`session_cached` keyed on the logical input: (tag, semanticHash
    of ``df``'s analyzed plan), versioned by its input-file
    fingerprint. Identical logical input -> identical artifact, so
    repeated probes reuse ONE persisted index or plan handle; an
    overwrite at the same path keeps the same analyzed plan, and the
    fingerprint is what stops a rewritten corpus from being served the
    previous corpus's artifact. Holders may be DataFrames, list/tuple
    wrappers of them, or plain derived values (counts, id ranges)."""
    try:
        sem = df._jdf.queryExecution().analyzed().semanticHash()
        fp = _input_fingerprint(df)
    except Exception:  # non-classic backends: fall back to no caching
        return build()
    return session_cached(df.sparkSession, (tag, sem), build, version=fp)


def corpus_count(df: DataFrame) -> int:
    """Cached row count of a corpus-shaped input: one count job per
    (app, logical plan, input-file fingerprint)."""
    return plan_cached(df, "count", df.count)


# Size-conditional join hints. The SHUFFLE_HASH hints exist because the
# corpus-sized sides of the near-dup joins (shingle arrays, band
# tables, label tables) carry broadcast-SMALL size ESTIMATES --
# Catalyst auto-broadcasts them and the driver OOMs already at a
# 50k-doc corpus (found by the 10x fixture). But below that scale the
# auto-planned broadcast is both safe and measurably faster (sf0.1
# doc_neardup_pairs: 0.57 s auto vs 0.87 s hinted), so the hint is
# gated on a one-job cached count of the corpus: small corpus -> let
# Catalyst plan; big corpus -> force shuffled hash. At 100 TB every
# corpus is far past the threshold, so the scale path is always the
# hinted one (pinned by tests/test_scale10x.py).
BROADCAST_SAFE_ROWS = 10_000


def at_scale(n_rows: int) -> bool:
    """True past the broadcast-safety gate."""
    return n_rows > BROADCAST_SAFE_ROWS


def scale_hint(df: DataFrame, n_rows: int) -> DataFrame:
    """SHUFFLE_HASH above the broadcast-safety threshold, untouched
    (Catalyst-planned) below it."""
    return df.hint("shuffle_hash") if at_scale(n_rows) else df


def scale_hint_merge(df: DataFrame, n_rows: int) -> DataFrame:
    """MERGE (sort-merge) above the broadcast-safety threshold: for
    joins whose PROBE side is explosion-prone (candidate-pair x
    postings verifies), SMJ is the memory-safe shape -- both sides
    sort-spill to disk, unlike a shuffled-hash build map that must fit
    per task (a 20x-replicated 10x corpus OOMed the hash build under
    32 concurrent tasks on a small heap). Below the threshold Catalyst
    plans freely."""
    return df.hint("merge") if at_scale(n_rows) else df


# The pair-keyed aggregates' group count grows LINEARLY with the corpus
# (~1.4k directed candidate pairs per doc on the 10x fixture), so a
# fixed session layout (32 partitions locally) concentrated ~2.2M
# groups per task at 10x and the complete-mode aggregate spilled
# 8.12 GB (measured ~linear in 1/partitions); a GLOBAL raise ballooned
# containment's array-carrying exchange +116%, so the raise applies
# ONLY to the pair-keyed exchange, derived from the corpus count: one
# partition per _PAIR_DOCS_PER_PARTITION docs, floored at the session
# default. Only consulted past the gate, so small-SF plans keep the
# session layout. Calibration at 10x (50k docs -> 250 partitions) in
# OPTIMIZATION_r18.md. The cap bounds the count at the billion-doc
# regime, where an unclamped linear formula would hand the driver
# millions of reduce tasks -- past ~6.5M docs per-task group state
# grows again and a deployment sizes the cap with its cluster.
_PAIR_DOCS_PER_PARTITION = 200
_PAIR_AGG_MAX_PARTITIONS = 32_768


def pair_agg_partitions(spark, n_rows: int) -> int:
    try:
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on managed platforms
        floor = 200
    return max(
        floor,
        min(_PAIR_AGG_MAX_PARTITIONS, -(-n_rows // _PAIR_DOCS_PER_PARTITION)),
    )


# Broadcasts decided on MEASURED bytes, never Catalyst's array-blind
# estimates: a verify join attaches a (key, array) table whose size
# ESTIMATE is wrong by >10x, but whose TRUE broadcast size is knowable
# exactly (8 B per element + 32 B per row). When that fits the budget
# below, an EXPLICIT F.broadcast ships the table once per executor and
# the wide candidate intermediate never crosses an exchange -- measured
# at 10x on doc_containment_pairs: total shuffle 1,817 -> 444 MB and
# the verify SMJ's 8.59 GB sort spill -> zero. The budget is PER QUERY:
# every broadcast relation of one query counts against it together (at
# the 10x fixture the shingle table measures 68.3 MB, 136.6 MB attached
# twice, which leaves the jaccard per-doc stats relation room under the
# 256 MB default).
# Local default 256 MB serialized (~2-4x that built, vs a 16 GB driver
# and Spark's 8 GB relation cap); env-tunable for deployments with
# bigger executors, clamped under Spark's hard 8 GB broadcast-relation
# cap so a generous value can never force a broadcast the runtime must
# reject. Read at each decision, never frozen at import.
_ROW_BYTES = 32


def _verify_broadcast_bytes() -> int:
    # a malformed env value ('256m') degrades to the default
    try:
        mb = int(os.environ.get("SPARK_GRAFT_VERIFY_BROADCAST_MB", "256"))
    except (TypeError, ValueError):
        mb = 256
    return min(mb * 1024 * 1024, 7 * 1024 * 1024 * 1024)


def broadcasts(n_rows: int, *relation_bytes) -> tuple[bool, ...]:
    """Which of one query's broadcast relations fit the per-query
    budget together. Each relation is a callable returning the bytes
    of one copy; every relation is attached twice (both sides of a
    pair), so 2x counts. Relations are decided in the order given, each
    against what the earlier broadcasting ones left. Row count alone
    (>= 32 B per row) can prove a relation over budget, which skips
    its measurement job in exactly the regime where it would be most
    expensive. Below the gate nothing is broadcast explicitly and
    nothing is measured."""
    if not at_scale(n_rows):
        return (False,) * len(relation_bytes)
    left = _verify_broadcast_bytes()
    fits = []
    for measure in relation_bytes:
        need = 2 * n_rows * _ROW_BYTES
        if need <= left:
            need = 2 * measure()
        fits.append(need <= left)
        if fits[-1]:
            left -= need
    return tuple(fits)


def attach(side: DataFrame, n_rows: int, relation_bytes, fallback) -> DataFrame:
    """The verify-join attachment policy: Catalyst-planned below the
    gate, an explicit broadcast when the relation's measured bytes fit
    the budget, the caller's memory-safe scale hint otherwise."""
    if not at_scale(n_rows):
        return side
    if broadcasts(n_rows, relation_bytes)[0]:
        return F.broadcast(side)
    return fallback(side, n_rows)


def ids_packable(corpus: DataFrame, table: DataFrame, col: str) -> bool:
    """True when every ``col`` id of ``table`` provably fits unsigned 31
    bits, so an id pair packs injectively into one long (`pack_pair`):
    integral column type (required for the shift to be the identity map
    it claims) and a measured id range within [0, 2^31). The range is
    one cached agg per corpus. False on any other type or range,
    including an empty corpus."""
    if not isinstance(
        table.schema[col].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        return False

    def measure():
        row = table.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        return (row["lo"], row["hi"])

    lo, hi = plan_cached(corpus, f"{col}_range", measure)
    return lo is not None and lo >= 0 and hi < (1 << 31)


def pack_pair(hi: Column, lo: Column) -> Column:
    """(hi << 32) | lo as one long. Injective on [0, 2^31)^2 (disjoint
    bit ranges; `ids_packable` guarantees lo has no bits above 30, so
    the OR is addition)."""
    return F.shiftleft(hi.cast("long"), 32).bitwiseOR(lo.cast("long"))


def unpack_pair(pk: Column, id_type: str) -> tuple[Column, Column]:
    """The exact inverse of `pack_pair` (shift right 32 / mask 2^32-1 on
    non-negative halves), cast back to the source id type."""
    return (
        F.shiftright(pk, 32).cast(id_type),
        pk.bitwiseAND(F.lit(4294967295)).cast(id_type),
    )
