"""Text analysis over the ``documents`` table.

Tokenize / count / score entirely with built-in array expressions --
one narrow projection, no shuffle, no UDF. At 100 TB this is a pure
map stage: scales linearly with partition count and stays inside
whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..physical import plan_cached

TOKEN_RE = r"\s+"

# tiny function-word lexicons for the language-ID heuristic
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is", "to", "in"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}
STOPWORDS = LANG_LEXICONS["en"]


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_RE)


def _sum_long(arr: Column) -> Column:
    """Ordered integer fold (deterministic, oracle-safe)."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counts + fingerprint (doc_id, n_tokens,
    n_unique_tokens, avg_token_len, fingerprint)."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    total_len = _sum_long(F.transform(toks, lambda t: F.length(t).cast("long")))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(total_len.cast("double") / n, 6).alias("avg_token_len"),
        F.md5(F.col("text")).alias("fingerprint"),
    )


# 32/64 straddle the fixture's token-length range (10-99, median 56)
# so BOTH waste columns discriminate at every tested SF (the
# vacuous-oracle audit discipline); 128/512 are the realistic budgets
PACKING_SEQ_LENS = (32, 64, 128, 512)


def packing_efficiency(
    docs: DataFrame, seq_lens: tuple[int, ...] = PACKING_SEQ_LENS
) -> DataFrame:
    """Context-length budget report (r12): for each candidate
    max_seq_len, the padding and truncation waste of the NAIVE
    one-doc-per-sequence layout -- the datasheet number that motivates
    (and sizes) `curation.shard_packing`'s bin packing, and the first
    thing a training run reads when choosing a context length for a
    corpus.

    Per (doc, L): pad = max(L - n_tokens, 0), truncated =
    max(n_tokens - L, 0). Aggregated per L: doc count, total tokens,
    pad tokens, truncated tokens, pad_fraction = pad / (L * n_docs)
    (the fraction of sequence SLOTS wasted) and truncated_fraction =
    truncated / total_tokens (the fraction of CORPUS lost). All sums
    are exact LONG integers; each fraction is one UNROUNDED IEEE
    double division of two exact integers -- bit-identical in both
    engines. Deliberately NOT round(.,6): the denominators here are
    of the form L * n_docs (rich in factors of 2 and 5), so exact
    ties at the 7th decimal are COMMON, and Spark (HALF_UP on the
    shortest decimal repr) and DuckDB disagree on them -- hit in
    round-12 development at literally the first fixture value
    (8078/32000 = 0.2524375 -> 0.252438 vs 0.252437).

    At scale: one scan computes n_tokens per doc, the explode
    multiplies rows by len(seq_lens) (a small constant), and the
    aggregate folds onto a len(seq_lens)-row domain with map-side
    partials -- no join, no window, one narrow exchange.
    """
    n = F.size(tokens(F.col("text"))).cast("long")
    per = docs.select(
        n.alias("_n"),
        F.explode(
            F.array(*[F.lit(int(L)).cast("int") for L in seq_lens])
        ).alias("max_seq_len"),
    )
    L = F.col("max_seq_len").cast("long")
    return (
        per.groupBy("max_seq_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            F.sum(F.greatest(L - F.col("_n"), F.lit(0).cast("long"))).alias(
                "pad_tokens"
            ),
            F.sum(F.greatest(F.col("_n") - L, F.lit(0).cast("long"))).alias(
                "truncated_tokens"
            ),
        )
        .select(
            "max_seq_len",
            "n_docs",
            "total_tokens",
            "pad_tokens",
            "truncated_tokens",
            (
                F.col("pad_tokens").cast("double")
                / (
                    F.col("max_seq_len").cast("long") * F.col("n_docs")
                ).cast("double")
            ).alias("pad_fraction"),
            (
                F.col("truncated_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("truncated_fraction"),
        )
    )


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-signal expressions keyed by output name (column-level so
    composition plans -- llmdata/curation.py -- can fuse them into a
    single scan projection instead of joining per-signal subtrees)."""
    toks = tokens(text)
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    text_len = F.length(text)
    punct_len = text_len - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    stop_ratio = stop_hits.cast("double") / n
    punct_ratio = punct_len.cast("double") / text_len
    len_score = F.least(F.lit(1.0), n.cast("double") / 100.0)
    return {
        "text_len": text_len,
        "n_tokens": n,
        "stopword_ratio": F.round(stop_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "quality_score": F.round(
            len_score * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6
        ),
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, stopword ratio, punctuation
    ratio, and a composite score in [0, 1] (rational arithmetic only)."""
    cols = quality_columns(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in cols.items()])


def simhash8(docs: DataFrame) -> DataFrame:
    """8-bit SimHash document fingerprint, md5-based (oracle-exact).

    Bit j is the majority vote of md5(token) nibble j's high bit across
    ALL tokens (duplicates weight naturally). Hex trick: nibble chars
    '8'..'f' sort above '0'..'7', so `substr(md5, j+1, 1) >= '8'` IS
    the high-bit test -- no bit arithmetic needed, identical in DuckDB.
    A production simhash widens to 64 bits the same way.

    The per-token md5 array is materialized once in its own projection
    and the 8 bit-filters test substrings of it: HOFs are
    CodegenFallback (no codegen CSE), so inlining would hash every
    token 8 times. Measured at sf0.1 (5k docs): 1.14 s inlined vs
    0.57 s shared, identical output (same finding as
    llmdata/dedup.minhash_signature).
    """
    hashed = docs.withColumn(
        "_h", F.transform(tokens(F.col("text")), lambda t: F.md5(t))
    )
    h = F.col("_h")
    n = F.size(h)

    def bit(j: int) -> Column:
        hits = F.size(
            F.filter(h, lambda x: F.substring(x, j + 1, 1) >= F.lit("8"))
        )
        return F.when(hits * 2 >= n, F.lit(1)).otherwise(F.lit(0))

    sim = F.lit(0)
    for j in range(8):
        sim = sim + bit(j) * (1 << j)
    return hashed.select("doc_id", sim.cast("int").alias("simhash8"))


# Rabin-Karp rolling-hash parameters. M < 2^31 keeps the fold's
# intermediate (acc * B + code) under 2^52 -- exact in int64 in BOTH
# engines (DuckDB BIGINT, Spark LongType), no overflow, no float drift.
RK_MOD = 2147483647
RK_BASE = 1000003
RK_WINDOW = 8


def _token_codes(text: Column) -> Column:
    """Integer code per token: length*131 + first-codepoint. Cheap,
    deterministic, and identical in DuckDB (``ascii`` returns the
    Unicode codepoint in both engines; '' -> 0 in both)."""
    return F.transform(
        tokens(text), lambda t: (F.length(t) * 131 + F.ascii(t)).cast("long")
    )


def _rk_fold(codes: Column) -> Column:
    """Ordered polynomial fold: h = (h*B + code) mod M, init 0.
    DuckDB twin: list_reduce(list_prepend(0, codes), ...)."""
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * RK_BASE + c) % RK_MOD,
    )


def _window_hashes(codes: Column, window: int) -> Column:
    """Hash of every ``window``-token slice. NB: ``sequence(1, n)`` with
    n < 1 generates a DESCENDING sequence (e.g. [1, 0]) and slice(start=0)
    throws -- short docs must be guarded to an empty array, not an empty
    sequence."""
    n_win = F.size(codes) - window + 1
    idx = F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: _rk_fold(F.slice(codes, i, window)))


def rolling_fingerprint(docs: DataFrame, window: int = RK_WINDOW) -> DataFrame:
    """Per-doc Rabin-Karp fingerprint (reference stores a per-record
    content hash for dedup, Backend/consumer_worker.py; here the rolling
    variant a training pipeline uses for passage-level work).

    Pure map stage -- no shuffle, no UDF, stays in whole-stage codegen;
    at 100 TB it scales linearly with input splits."""
    codes = _token_codes(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(codes).alias("n_tokens"),
        _rk_fold(codes).alias("doc_fp"),
        F.size(_window_hashes(codes, window)).alias("n_windows"),
    )


def repeated_passages(docs: DataFrame, window: int = RK_WINDOW) -> DataFrame:
    """Cross-doc repeated ``window``-token passages (contamination /
    boilerplate detection): explode per-doc window hashes, group by
    hash, keep hashes seen in >= 2 distinct docs.

    One shuffle, on the passage hash -- uniform by construction (it is
    a hash), so no skew; count-distinct(doc_id) runs as a two-stage
    partial aggregate. The heavy ``text`` column is dropped before the
    exchange: only (hash, doc_id) pairs shuffle."""
    wh = docs.select(
        "doc_id",
        F.explode(_window_hashes(_token_codes(F.col("text")), window)).alias(
            "passage_hash"
        ),
    )
    return (
        wh.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- BM25-class lexical retrieval (r13) ------------------------------------
# The lexical sibling of the five vector ANN paths: ranked keyword
# search over the corpus. The scoring variant is LOG-FREE: classic
# BM25's ln-idf is libm-dependent (Spark's Math.log and DuckDB's
# libm log are not guaranteed bit-identical), so idf is the rational
# odds (N - df + 0.5)/(df + 0.5) -- the log's argument, a strictly
# monotone per-term transform (same precedent as tfidf_top_terms'
# rational tf-idf and the r8 rerank exp-margin). Every remaining
# operation is IEEE +,*,/ of doubles derived from exact integers in
# a FIXED association order shared verbatim between the Spark
# expression and the DuckDB oracle (_bm25_score_sql is the single
# source of truth), so scores are bit-identical across engines.

BM25_QUERY_TERMS = ("dup", "spark", "scan", "join")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_term_score_sql(tf_col: str, df_col: str) -> str:
    """ONE term's BM25 contribution over columns ``tf_col``/``df_col``,
    dl and the broadcast scalars n_docs/sum_dl -- the single source of
    the scoring arithmetic (numeric literals pre-folded in Python so
    each engine parses the same shortest-repr doubles). The fixed-query
    batch scorer concatenates it per term column; the inverted-index
    serving path (`llm_ingest.bm25_topk_batches`) applies it per
    posting row -- SAME text modulo column names, so the two forms can
    never drift apart arithmetically."""
    k1_p1 = repr(BM25_K1 + 1.0)
    k1 = repr(BM25_K1)
    one_minus_b = repr(1.0 - BM25_B)
    b = repr(BM25_B)
    rel = "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))"
    idf = (
        f"((CAST(n_docs AS DOUBLE) - CAST({df_col} AS DOUBLE) + 0.5)"
        f" / (CAST({df_col} AS DOUBLE) + 0.5))"
    )
    num = f"(CAST({tf_col} AS DOUBLE) * {k1_p1})"
    den = f"(CAST({tf_col} AS DOUBLE) + {k1} * ({one_minus_b} + {b} * {rel}))"
    return f"CASE WHEN {tf_col} > 0 THEN {idf} * {num} / {den} ELSE 0.0 END"


def _bm25_score_sql(n_terms: int) -> str:
    """The per-doc score expression over columns tf{i}, dl and the
    broadcast scalars n_docs, sum_dl, df{i} -- plain SQL arithmetic
    parsed identically by Spark and DuckDB (shared verbatim by both
    sides); built by concatenating the per-term fragment in WRITTEN
    order, which fixes the floating-point summation order the serving
    path's ordered fold reproduces."""
    return " + ".join(
        _bm25_term_score_sql(f"tf{i}", f"df{i}") for i in range(n_terms)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple = BM25_QUERY_TERMS,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """Ranked lexical retrieval: top-k documents for a fixed keyword
    query under log-free BM25 (k1=1.2, b=0.75, rational-odds idf --
    see the block comment above for the cross-engine determinism
    argument). One rare term + three common ones in the default
    query, so idf weighting visibly reorders raw term-frequency.

    At scale: NO explode and no wide shuffle -- one map-only pass
    computes (doc_id, dl, tf per query term) as a ~50-byte projection
    (HOF size/filter over the token array); corpus stats (N, total
    length, per-term df) are ONE global aggregate row broadcast back;
    ranking is TakeOrderedAndProject. The projection is persisted
    because both the stats branch and the scoring branch consume it
    and Spark does not reuse exchanges under HOF lambdas (the
    shard_packing finding, PLANS.md r3) -- without it the corpus
    would be tokenized twice.
    """
    toks = tokens(F.col("text"))

    def _tf(term: str):
        # helper closure, NOT a default-arg lambda: a two-parameter
        # lambda in F.filter becomes (element, index) and the term
        # would silently be replaced by the array index
        lit = F.lit(term)
        return F.size(F.filter(toks, lambda x: x == lit))

    cols = [F.col("doc_id"), F.size(toks).cast("long").alias("dl")]
    for i, t in enumerate(query_terms):
        cols.append(_tf(t).cast("long").alias(f"tf{i}"))
    base = docs.select(*cols).persist()
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ]
    for i in range(len(query_terms)):
        aggs.append(F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}"))
    stats = base.agg(*aggs)
    match = " + ".join(f"tf{i}" for i in range(len(query_terms)))
    scored = (
        base.crossJoin(F.broadcast(stats))
        .filter(F.expr(f"({match}) > 0"))
        .withColumn("score", F.expr(_bm25_score_sql(len(query_terms))))
    )
    return (
        scored.select(
            "doc_id",
            "dl",
            *[
                F.col(f"tf{i}").alias(f"tf_{t}")
                for i, t in enumerate(query_terms)
            ],
            "score",
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(top_k)
    )


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k terms per doc by a rational tf-idf variant.

    score = tf * N / doc_freq -- deliberately log-free: ln() is libm-
    dependent and not bit-identical across engines, while integer
    ratios are. Same ranking monotonicity as classic tf-idf for fixed
    tf. Shape: explode -> two hash aggs -> broadcast the tiny term
    dictionary back -> per-doc top-k window.
    """
    from pyspark.sql import Window

    term = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = term.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(doc_freq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("doc_freq").cast("double"),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "doc_freq", "rank", "score")
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Corpus bigram language model -> per-doc typicality score.

    Train: count every adjacent token pair (bigram) and every context
    token over the WHOLE corpus; p(w2|w1) = c(w1,w2)/c(w1). Score each
    doc by the mean conditional probability of its bigrams -- the
    rational, log-free cousin of inverse perplexity (ln() is not
    bit-identical across engines; integer ratios are). Probabilities
    are quantized to integer micro-units with FLOOR division so every
    aggregate stays exact-integer until one final double division.

    Shape: explode bigrams (map-side, codegen) -> two hash aggs build
    the model -> join the model back -> per-doc agg. At sf-test scale
    the model tables broadcast; at 100 TB they exceed the broadcast
    threshold and Catalyst/AQE picks sort-merge on (w1, w2) -- both
    joins share the exploded table's natural key so no extra exchange
    of the big side. Skewed contexts (stopwords) are exactly the AQE
    skew-join case; partial aggregation halves the shuffle first.
    """
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c_bg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    c_ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    scored = (
        bg.join(c_bg, ["w1", "w2"])
        .join(c_ctx, ["w1"])
        .select(
            "doc_id",
            F.expr("CAST(1000000 * c_bg AS BIGINT) div c_ctx").alias("p_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p_micro").alias("sum_p_micro"),
        (
            (
                F.sum("p_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            / F.lit(1000000.0)
        ).alias("lm_score"),
    )


def predicted_lang_column(text: Column) -> Column:
    """Argmax-of-lexicon-hits language prediction as one expression
    (the fusable form of language_id's verdict; identical CASE
    semantics, ties broken in fixed lexicon order)."""
    toks = tokens(F.lower(text))

    def _hits(lex: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*lex)))

    langs = list(LANG_LEXICONS)
    hits = {lang: _hits(lex) for lang, lex in LANG_LEXICONS.items()}
    pred = F.lit(langs[0])
    best = hits[langs[0]]
    for lang in langs[1:]:
        pred = F.when(hits[lang] > best, lang).otherwise(pred)
        best = F.greatest(best, hits[lang])
    return pred


def language_id(docs: DataFrame) -> DataFrame:
    """Lexicon-hit language ID: argmax of function-word hits per
    language (ties broken in fixed lexicon order)."""
    toks = tokens(F.lower(F.col("text")))

    def _hits(lex: list[str]) -> Column:
        # closure, not a default-arg lambda: F.filter would interpret a
        # two-parameter lambda as (element, index)
        return F.size(F.filter(toks, lambda t: t.isin(*lex)))

    hits = {lang: _hits(lex) for lang, lex in LANG_LEXICONS.items()}
    langs = list(LANG_LEXICONS)
    pred = F.lit(langs[0])
    best = hits[langs[0]]
    for lang in langs[1:]:
        pred = F.when(hits[lang] > best, lang).otherwise(pred)
        best = F.greatest(best, hits[lang])
    out = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[hits[lang].alias(f"hits_{lang}") for lang in langs],
    )
    # recompute pred over the aliased hit columns so the expression tree
    # matches the oracle CASE exactly
    pred2 = F.lit(langs[0])
    best2 = F.col(f"hits_{langs[0]}")
    for lang in langs[1:]:
        pred2 = F.when(F.col(f"hits_{lang}") > best2, lang).otherwise(pred2)
        best2 = F.greatest(best2, F.col(f"hits_{lang}"))
    return out.withColumn("predicted_lang", pred2)


# GPT-2-style pre-tokenizer, simplified to the lookahead-free subset so
# Java regex (Spark) and RE2 (DuckDB oracle) agree: contractions,
# optional-leading-space letter runs, digit runs, punctuation runs,
# whitespace runs. The real BPE merge table operates WITHIN these
# pre-token boundaries, so pre-token counts + lengths are the inputs a
# token-budget estimator needs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def subword_stats(docs: DataFrame) -> DataFrame:
    """BPE-ish token accounting per doc: pre-token counts by class and
    an estimated BPE token budget (~4 chars/token within a pre-token,
    integer ceil -- deterministic, oracle-exact).

    Pure map stage: regexp_extract_all + array folds, whole plan
    JVM-side, no shuffle."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0))
    nonws = F.filter(toks, lambda t: t.rlike(r"\S"))
    est = _sum_long(
        F.transform(
            nonws,
            lambda t: ((F.length(F.trim(t)) + F.lit(3)) / 4).cast("long"),
        )
    )
    n_class = lambda pat: F.size(F.filter(nonws, lambda t: t.rlike(pat)))  # noqa: E731
    return docs.select(
        "doc_id",
        F.size(nonws).alias("n_pretokens"),
        n_class(r"^ ?[A-Za-z]+$").alias("n_word_tokens"),
        n_class(r"^ ?[0-9]+$").alias("n_number_tokens"),
        n_class(r"^ ?[^A-Za-z0-9\s]+$").alias("n_punct_tokens"),
        est.alias("est_bpe_tokens"),
    )


def contamination_check(
    docs: DataFrame,
    eval_source: str = "src0",
    window: int = RK_WINDOW,
) -> DataFrame:
    """Benchmark-contamination scan -- the train/eval n-gram-overlap
    check a training-data pipeline runs before a release: the docs of
    ``eval_source`` play the held-out benchmark, and every OTHER doc
    is scored by how many of its ``window``-token passages (Rabin-
    Karp rolling hashes, same machinery as `repeated_passages`) also
    occur anywhere in the benchmark.

    Shape: the benchmark's DISTINCT passage-hash set is small (eval
    suites are tiny next to the corpus) -- build it once, broadcast
    it, count hits per train doc with one hash-join, left-join the
    counts back so clean docs keep an explicit 0. The corpus-side
    scan stays a map stage; nothing about the corpus shuffles except
    (doc_id, hit) pairs.
    """
    wh = _window_hashes(_token_codes(F.col("text")), window)
    eval_hashes = (
        docs.filter(F.col("source") == eval_source)
        .select(F.explode(wh).alias("passage_hash"))
        .distinct()
    )
    train = docs.filter(F.col("source") != eval_source)
    hits = (
        train.select("doc_id", F.explode(wh).alias("passage_hash"))
        .join(F.broadcast(eval_hashes), "passage_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    base = train.select("doc_id", F.size(wh).cast("long").alias("n_windows"))
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        n_cont.alias("n_contaminated"),
        F.round(
            F.when(
                F.col("n_windows") > 0,
                n_cont.cast("double") / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("contamination_rate"),
        (n_cont > 0).alias("is_contaminated"),
    )


def repetition_score(docs: DataFrame, window: int = RK_WINDOW) -> DataFrame:
    """Within-doc repetition signal (the Gopher-style repetitious-text
    filter): fraction of a doc's ``window``-token passages that are
    repeats of an earlier passage in the SAME doc -- 1 - distinct/total
    over the rolling hashes. Template pages and looping generations
    score high; clean prose scores ~0.

    Pure map stage over the already-built rolling-hash machinery: no
    shuffle, no UDF, linear in input splits at any scale."""
    wh = _window_hashes(_token_codes(F.col("text")), window)
    base = docs.select(
        "doc_id",
        F.size(wh).cast("long").alias("n_windows"),
        F.size(F.array_distinct(wh)).cast("long").alias("n_distinct_windows"),
    )
    return base.select(
        "doc_id",
        "n_windows",
        "n_distinct_windows",
        F.round(
            F.when(
                F.col("n_windows") > 0,
                1.0
                - F.col("n_distinct_windows").cast("double")
                / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("repetition_rate"),
    )


# --- PII redaction (training-data scrubbing stage) -------------------------
# Patterns are deliberately portable between Java regex (Spark) and RE2
# (DuckDB): ASCII classes, bounded quantifiers, \b word boundaries --
# no lookarounds (RE2 has none). Replacement order matters and is
# fixed: emails first (their domains contain dots that IP/phone
# patterns could nibble), then phones, then IPv4.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII scrub: emails / phone numbers / IPv4 literals are
    counted and replaced by typed tokens, sequentially (each count
    runs over the PREVIOUS stage's output so a redacted span is never
    double-counted). Returns doc_id, per-category counts, pii_total,
    has_pii, redacted_text -- the filter/repair columns a curation
    pipeline routes on. Pure map stage: codegen regex per row, no
    shuffle, linear at any corpus size."""
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(t1, F.lit(PII_PHONE_RE))
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    n_ips = F.regexp_count(t2, F.lit(PII_IPV4_RE))
    t3 = F.regexp_replace(t2, PII_IPV4_RE, "<IP>")
    total = (n_emails + n_phones + n_ips).cast("long")
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        total.alias("pii_total"),
        (total > 0).alias("has_pii"),
        t3.alias("redacted_text"),
    )


def pii_decorate(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection for fixture corpora (the driver
    fixture text has no digits at all): by doc_id modulus, append an
    email, two phone formats, or an IPv4 -- mirrored literally by
    plans/llm_sql.PII_REDACT_SQL so the redaction oracle exercises
    nonzero counts on every pattern."""
    d = F.col("doc_id")
    suffix = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" contact user"), d.cast("string"), F.lit("@example.com for details")
            ),
        )
        .when(d % 3 == 1, F.lit(" call 555-867-5309 or 555.123.4567 today"))
        .otherwise(
            F.concat(F.lit(" server 10.0."), (d % 256).cast("string"), F.lit(".7 responded"))
        )
    )
    return docs.withColumn("text", F.concat(F.col("text"), suffix))


def chunk_spans(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """Context-window chunk spans: one row per (doc, chunk) with token
    offsets -- the pretraining chunker that slices documents into
    model-context windows with overlap (stride = chunk - overlap).

    Pure JVM-side arithmetic: token count from the split, starts from
    `sequence`, one explode -- no Python stage, no UDF. Degenerate
    tail chunks that add no tokens beyond the overlap are dropped
    (start > 0 AND end - start <= overlap), the standard sliding-
    window stop rule, expressed identically in the DuckDB oracle.

    At 100 TB: map-only (explode is pipelined into the scan), output
    rows ~ n_tokens/stride per doc; the heavy `text` column never
    leaves the map side -- downstream materialization joins spans
    back by doc_id only when slices are actually needed."""
    stride = chunk_tokens - overlap
    n = F.size(tokens(F.col("text")))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    out = docs.select(
        "doc_id",
        n.alias("_n"),
        F.explode(starts).alias("start_token"),
    ).select(
        "doc_id",
        (F.col("start_token") / stride).cast("int").alias("chunk_idx"),
        "start_token",
        F.least(F.col("start_token") + chunk_tokens, F.col("_n")).alias(
            "end_token"
        ),
        "_n",
    )
    return out.filter(
        (F.col("start_token") == 0)
        | (F.col("end_token") - F.col("start_token") > overlap)
    ).select(
        "doc_id",
        "chunk_idx",
        "start_token",
        "end_token",
        (F.col("end_token") - F.col("start_token")).alias("n_chunk_tokens"),
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Text normalization -- the cleanup pass a crawl corpus gets
    before tokenization: Unicode NFC composition (combining sequences
    -> precomposed, the mojibake-adjacent fix), control-character
    strip (C0 except tab/newline, DEL, C1), whitespace-run collapse,
    and trim. Returns (doc_id, norm_text, n_chars_before,
    n_chars_after, changed).

    NFC is the one step Spark has no built-in for -- it runs as an
    Arrow-vectorized pandas UDF (stdlib unicodedata; self-contained
    closure); the regex steps stay JVM-side. Order is pinned (NFC ->
    strip -> collapse -> trim) and mirrored exactly by the DuckDB
    oracle (`nfc_normalize` + identical RE2-portable regexes), which
    cross-checks that Python's and DuckDB's Unicode tables agree on
    the fixture.

    At 100 TB: map-only; the UDF is the only Python hop and processes
    Arrow batches of one string column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                nfc(F.col("text")),
                "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]",
                "",
            ),
            "\\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_before"),
        cleaned.alias("norm_text"),
    ).select(
        "doc_id",
        "norm_text",
        "n_chars_before",
        F.length("norm_text").alias("n_chars_after"),
        (F.col("n_chars_before") != F.col("n_chars_after")).alias("changed"),
    )


# deterministic dirt for the (ASCII-only) fixture: an NFD combining
# sequence + double space, a control char + tab run, or untouched.
# The SAME Python constants are embedded into the oracle SQL literal,
# so both engines decorate identically.
DIRT_NFD = " cafe\u0301  fin"
DIRT_CTRL = " end\u0007\t\there"


def normalize_decorate(docs: DataFrame) -> DataFrame:
    """Deterministically dirty the fixture text so the normalization
    path has real work (doc_id % 3 picks the dirt kind)."""
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(DIRT_NFD))
        )
        .when(
            F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(DIRT_CTRL))
        )
        .otherwise(F.col("text")),
    )


def _gopher_metrics(text: Column) -> dict[str, Column]:
    """The 7 Gopher metric expressions over a text column, rounded at
    6 for cross-engine stability -- shared by the batch battery
    (`gopher_rules`) and the stream-side conjunction
    (`gopher_keep_column`) so both sides threshold IDENTICAL values."""
    toks = tokens(text)
    n = F.size(toks)
    mean_len = F.round(
        _sum_long(F.transform(toks, lambda t: F.length(t).cast("long"))).cast(
            "double"
        )
        / n,
        6,
    )
    n_symbols = (
        F.size(F.split(text, "#", -1))
        - 1
        + F.size(F.split(text, r"\.\.\.", -1))
        - 1
    )
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines)
    frac_bullet = F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike("^\\s*[-*•]")))
        .cast("double")
        / n_lines,
        6,
    )
    frac_ellipsis = F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike("\\.\\.\\.\\s*$")))
        .cast("double")
        / n_lines,
        6,
    )
    frac_alpha = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / n,
        6,
    )
    stop_lits = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(
        F.array_distinct(
            F.filter(
                F.transform(toks, lambda t: F.lower(t)),
                lambda t: F.array_contains(stop_lits, t),
            )
        )
    )
    return {
        "n_words": n,
        "mean_word_len": mean_len,
        "symbol_word_ratio": F.round(n_symbols.cast("double") / n, 6),
        "frac_bullet_lines": frac_bullet,
        "frac_ellipsis_lines": frac_ellipsis,
        "frac_alpha_words": frac_alpha,
        "n_distinct_stopwords": n_stop,
    }


def _gopher_rule_preds(m: dict[str, Column]) -> dict[str, Column]:
    """Rule name -> predicate over the named metric expressions."""
    return {
        "r1_word_count": (m["n_words"] >= 50) & (m["n_words"] <= 100000),
        "r2_mean_word_len": (m["mean_word_len"] >= 3.0)
        & (m["mean_word_len"] <= 10.0),
        "r3_symbol_ratio": m["symbol_word_ratio"] <= 0.1,
        "r4_bullet_lines": m["frac_bullet_lines"] <= 0.9,
        "r5_ellipsis_lines": m["frac_ellipsis_lines"] <= 0.3,
        "r6_alpha_words": m["frac_alpha_words"] >= 0.8,
        "r7_stopwords": m["n_distinct_stopwords"] >= 2,
    }


def gopher_keep_column(text: Column) -> Column:
    """Single-Column conjunction of all 7 Gopher rules -- the
    stream-side form (streaming/llm_ingest.curation_stream gates on
    it, r8): stateless, per-row, whole-stage-codegen'd, thresholding
    the SAME rounded metric expressions as the batch battery, so a
    document reaches the identical verdict in either mode."""
    preds = _gopher_rule_preds(_gopher_metrics(text))
    keep = None
    for p in preds.values():
        keep = p if keep is None else keep & p
    return keep


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, arXiv
    2112.11446 A1.1) -- the classic pretraining document filter,
    complementing `quality_score`'s scalar with per-rule verdicts:

      R1 word count in [50, 100000]
      R2 mean word length in [3, 10]
      R3 symbol-to-word ratio (# and ellipsis) <= 0.1
      R4 <= 90% of lines start with a bullet
      R5 <= 30% of lines end with an ellipsis
      R6 >= 80% of words contain an alphabetic character
      R7 at least 2 distinct stop words

    All metrics are built-in array/regex expressions (one narrow map
    stage, no UDF, whole-stage codegen); ratios are rounded at 6 for
    cross-engine stability. ``keep`` is the conjunction."""
    metrics = _gopher_metrics(F.col("text"))
    m = docs.select(
        "doc_id", *[v.alias(k) for k, v in metrics.items()]
    )
    rules = _gopher_rule_preds({k: F.col(k) for k in metrics})
    out = m.select("*", *[v.alias(k) for k, v in rules.items()])
    keep = None
    for k in rules:
        keep = F.col(k) if keep is None else keep & F.col(k)
    return out.withColumn("keep", keep)


def line_decorate(docs: DataFrame) -> DataFrame:
    """Append deterministic boilerplate lines (doubled on even doc
    ids) so the single-line fixture exercises the line-dedup path;
    mirrored literally in the oracle SQL."""
    tail2 = F.lit("\nEND-BOILERPLATE\nEND-BOILERPLATE\nvisit example dot test")
    tail1 = F.lit("\nEND-BOILERPLATE\nvisit example dot test")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"), F.when(F.col("doc_id") % 2 == 0, tail2).otherwise(tail1)
        ),
    )


def dedupe_lines(docs: DataFrame) -> DataFrame:
    """Within-document duplicate-LINE removal (order-preserving first
    occurrence) -- the boilerplate scrub for repeated footers/menus a
    crawl page carries, complementing the cross-doc `repeated_passages`
    detector. Map-only, no UDF: the kept set is a two-parameter HOF
    lambda (element + index) where a line survives iff its FIRST
    array_position equals its own index -- the same predicate the
    DuckDB oracle writes with its 1-based (x, i) list_filter. The line
    array is materialized once in its own projection (HOFs are
    CodegenFallback -- no codegen CSE, so inlining the split into the
    filter would re-split per line)."""
    with_lines = docs.withColumn("_lines", F.split(F.col("text"), "\n", -1))
    ln = F.col("_lines")
    kept = F.filter(ln, lambda x, i: F.array_position(ln, x) == i + 1)
    return with_lines.select(
        "doc_id",
        F.size(ln).alias("n_lines"),
        F.size(kept).alias("n_unique_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        (F.size(ln) != F.size(kept)).alias("changed"),
    )


def vocab_coverage(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Corpus vocabulary head: the ``top_k`` most frequent tokens with
    rank and CUMULATIVE corpus coverage -- the table a tokenizer-vocab
    build or a stopword audit starts from.

    Coverage is exact integer arithmetic (cumulative count / total
    count, rounded at 6) -- no floats accumulate. Deterministic order:
    count desc, then token asc (ties must break identically in both
    engines). At 100 TB: one shuffle to count tokens (map-side
    partials on a hash key), then the TOP-K BOUND COMES FIRST --
    `orderBy().limit(k)` compiles to TakeOrderedAndProject
    (per-partition heaps over the vocabulary, no global sort) and the
    cumulative window then runs over only k rows, never a
    single-partition pass over the full vocabulary (the cumsum at rank
    r only needs rows ranked above r, all inside the top-k set)."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_t"))
    head = counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_k)
    # constant partition key: the window runs over the <= top_k-row
    # head only (bounded by the limit above, never the vocabulary) --
    # declaring the single partition explicitly keeps the executed
    # plan free of the "No Partition Defined" warning that would
    # misread as an unbounded single-partition sort at scale. n & 0,
    # not lit(0) or n * 0: the optimizer strips foldable window
    # partitions and simplifies multiply-by-zero on the non-nullable
    # count, putting the warning back; the bitwise form survives
    w = Window.partitionBy(F.col("n").bitwiseAND(F.lit(0))).orderBy(
        F.col("n").desc(), F.col("token")
    )
    ranked = head.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum_n", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return ranked.crossJoin(total).select(
        "rank",
        "token",
        "n",
        F.round(F.col("cum_n").cast("double") / F.col("_t"), 6).alias(
            "cum_coverage"
        ),
    )


# BPE symbol separator: every symbol in the working encoding is
# wrapped \x1f<sym>\x1f, so the merge of (a, b) is a LITERAL
# replace('\x1fa\x1f\x1fb\x1f' -> '\x1fab\x1f') -- left-to-right
# non-overlapping in both engines, which IS greedy leftmost BPE merge
# application. The double separator at symbol joints means a match
# consumes no character of the following symbol, so consecutive
# occurrences ('aaaa' under merge (a,a)) resolve identically
# everywhere.
_BPE_SEP = "\x1f"


def bpe_train(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016,
    arXiv:1508.07909) -- learn the top ``n_merges`` byte-pair merges
    over the corpus: (rank, left, right, pair_count).

    Round structure (the classic algorithm, cluster-shaped):
      1. ONE corpus pass folds to the (word, freq) vocabulary table --
         all later rounds run over the vocab, which is dimension-sized
         relative to the corpus (Zipf: distinct words << tokens).
      2. Each round: explode adjacent symbol pairs weighted by word
         freq -> one partial-agged shuffle on the pair key -> the
         argmax pair by (count DESC, left ASC, right ASC) -- a total,
         deterministic order on exact integers, so the engine and the
         DuckDB oracle pick the SAME merge every round and the pairing
         is exact end-to-end (no float anywhere).
      3. Merge application is a literal string replace on the wrapped
         encoding (see _BPE_SEP) -- a map-only projection, no shuffle.

    The per-round argmax is a 1-row collect (the k-means-centroid
    pattern: k bounded driver decisions, never corpus-sized); the
    oracle keeps the same decision inside SQL as a 1-row CTE joined
    with LEFT JOIN ON TRUE so an exhausted pair space (tiny corpus,
    n_merges too large) degrades to a no-op round in both engines.

    At 100 TB: the vocab fold is the only corpus-sized shuffle; each
    round shuffles one narrow (pair, count) row per distinct
    (word, pair) -- bounded by vocab size x word length -- and the
    merge itself never moves data."""
    merges, _ = _bpe_state(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def _bpe_state(docs: DataFrame, n_merges: int):
    """Shared BPE training loop: returns (merges, final_vocab) where
    merges is [(rank, left, right, count), ...] and final_vocab the
    (w, enc, freq) DataFrame after ALL merges applied -- consumed by
    `bpe_train` (merge table) and `bpe_encode_stats` (tokenizer
    application). Memoized like the posting/banded indexes
    (`physical.plan_cached` keying): a trained tokenizer is THE canonical
    build-once-apply-many artifact -- training it again for the same
    logical corpus and merge count answers nothing new -- and the
    result is k driver-side literals plus the final vocab handle."""
    holder = plan_cached(
        docs, f"bpe_state:{n_merges}", lambda: [_bpe_state_build(docs, n_merges)]
    )
    # holder[0] = (merges, final_enc, persisted_words); the words frame
    # rides in the holder so plan_cached eviction can unpersist it
    merges, cur, _words = holder[0]
    return merges, cur


def _bpe_state_build(docs: DataFrame, n_merges: int):
    toks = tokens(F.col("text"))
    words = (
        docs.select(F.explode(toks).alias("w"))
        # a token containing the separator would corrupt the wrapped
        # encoding; both engines drop them identically (none in the
        # fixtures -- \x1f is a control char)
        .filter(~F.col("w").contains(_BPE_SEP) & (F.length("w") > 0))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "enc", F.regexp_replace(F.col("w"), "(.)", _BPE_SEP + "$1" + _BPE_SEP)
        )
        .select("w", "enc", "freq")
        .persist()
    )
    merges = []
    cur = words
    for rank in range(1, n_merges + 1):
        syms = F.transform(
            F.split(F.col("enc"), _BPE_SEP + _BPE_SEP),
            lambda s: F.replace(s, F.lit(_BPE_SEP), F.lit("")),
        )
        t2 = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1)))
        pair_structs = F.filter(
            F.zip_with(
                syms, t2, lambda a, b: F.when(b.isNotNull(), F.struct(a.alias("l"), b.alias("r")))
            ),
            lambda p: p.isNotNull(),
        )
        best = (
            cur.select(F.explode(pair_structs).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.l").asc(), F.col("p.r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, n = best[0]["p"]["l"], best[0]["p"]["r"], best[0]["n"]
        merges.append((rank, left, right, n))
        pat = _BPE_SEP + left + _BPE_SEP + _BPE_SEP + right + _BPE_SEP
        rep = _BPE_SEP + left + right + _BPE_SEP
        cur = cur.select(
            "w", F.replace(F.col("enc"), F.lit(pat), F.lit(rep)).alias("enc"), "freq"
        )
    return merges, cur, words


def bpe_encode_stats(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Apply the corpus-trained BPE tokenizer back to the documents
    (the encode half of the tokenizer story): per doc,
    (doc_id, n_words, n_subwords, avg_subwords_per_word).

    The final vocabulary encoding from `_bpe_state` maps every
    distinct word to its post-merge segment count; documents join
    their exploded words against it -- at 100 TB the vocab is
    dimension-sized (Zipf) and broadcasts, so the encode pass is one
    map + one broadcast join + one per-doc agg, never a per-word
    re-derivation. Integer counts end-to-end; the single rational
    (avg) divides two small ints, whose 1/n_words granularity cannot
    land on a .5e-6 rounding boundary for any doc under ~2M words --
    exact cross-engine with no margin argument."""
    _, vocab = _bpe_state(docs, n_merges)
    n_sub = F.size(F.split(F.col("enc"), _BPE_SEP + _BPE_SEP))
    seg = F.broadcast(vocab.select("w", n_sub.alias("_n_sub")))
    doc_words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(~F.col("w").contains(_BPE_SEP) & (F.length("w") > 0))
    return (
        doc_words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_sub").alias("n_subwords"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subwords",
            F.round(
                F.col("n_subwords").cast("double") / F.col("n_words"), 6
            ).alias("avg_subwords_per_word"),
        )
    )


def repeated_passages_exact(docs: DataFrame, window: int = RK_WINDOW) -> DataFrame:
    """Hash-prefiltered EXACT cross-doc repeated passages -- the
    collision-proof upgrade of `repeated_passages` (Lee et al. 2022,
    arXiv:2107.06499 motivates exact substring dedup): candidate
    window positions come from the rolling-hash groups seen in >= 2
    distinct docs (LOSSLESS: equal text => equal hash, so every truly
    repeated passage's hash qualifies), then the actual window TEXT is
    reconstructed for candidate positions only and the final grouping
    runs on the text itself -- a colliding hash can no longer conflate
    two different passages. Output: (passage, n_docs, n_occurrences)
    for passages appearing in >= 2 docs.

    Scale shape (the candidates->verify discipline of the near-dup
    family): the first aggregation shuffles only (doc_id, pos, hash)
    -- 8 bytes of key per window, never text; the verify join back to
    the token arrays touches only candidate rows (collided hashes),
    and the final exchange carries one short passage string per
    candidate occurrence. At 100 TB the hash prefilter is what keeps
    the text shuffle proportional to the REPEATED volume, not the
    corpus."""
    toks = tokens(F.col("text"))
    codes = _token_codes(F.col("text"))
    # the (doc_id, pos, hash) position index feeds BOTH the candidate
    # aggregation and the verify join, and the rolling-hash HOFs defeat
    # exchange-reuse canonicalization (the r3 ReusedExchange gotcha) --
    # persist it once per corpus like the other probe indexes
    narrow = plan_cached(
        docs,
        f"passage_pos:{window}",
        lambda: docs.select(
            "doc_id",
            F.posexplode(_window_hashes(codes, window)).alias(
                "pos", "passage_hash"
            ),
        ).persist(),
    )
    cand = (
        narrow.groupBy("passage_hash")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("passage_hash")
    )
    toks_tbl = docs.select("doc_id", toks.alias("_t"))
    verified = (
        narrow.join(cand, "passage_hash")
        .join(toks_tbl, "doc_id")
        .select(
            "doc_id",
            F.array_join(
                F.slice(F.col("_t"), F.col("pos") + 1, window), " "
            ).alias("passage"),
        )
    )
    return (
        verified.groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )
