"""Degenerate-input robustness: empty corpora, single rows, empty
strings -- the shapes a 100 TB pipeline hits in stray partitions."""

from __future__ import annotations


DOCS_SCHEMA = "doc_id long, text string, lang string"
EMB_SCHEMA = "vec_id long, embedding array<float>, label string"


def test_curation_empty_and_single(spark):
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline,
    )

    empty = spark.createDataFrame([], DOCS_SCHEMA)
    assert curation_pipeline(empty).count() == 0
    one = spark.createDataFrame([(1, "just one tiny doc", "en")], DOCS_SCHEMA)
    rows = curation_pipeline(one).collect()
    assert len(rows) == 1
    assert rows[0]["drop_reason"] in (None, "low_quality")


def test_subword_stats_empty_text(spark):
    from big_data_streaming_dashboard_spark.llmdata.text import subword_stats

    docs = spark.createDataFrame([(0, "", "en"), (1, "   ", "en")], DOCS_SCHEMA)
    got = {r["doc_id"]: r for r in subword_stats(docs).collect()}
    assert got[0]["n_pretokens"] == 0 and got[0]["est_bpe_tokens"] == 0
    assert got[1]["n_pretokens"] == 0  # pure whitespace filtered


def test_neardup_single_doc(spark):
    from big_data_streaming_dashboard_spark.llmdata.dedup import neardup_pairs

    one = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en")], DOCS_SCHEMA
    )
    assert neardup_pairs(one).count() == 0


def test_ann_small_corpus(spark):
    """Queries >= corpus size and a corpus smaller than k still
    answer (fewer than k rows per query, no crash)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        lsh_banded_topk,
        simhash_hamming_topk,
    )

    tiny = spark.createDataFrame(
        [(i, [float(i == j) for j in range(64)], "l") for i in range(3)],
        EMB_SCHEMA,
    )
    got = simhash_hamming_topk(tiny, n_queries=5, k=10).collect()
    assert all(r["vec_id"] != r["query_id"] for r in got)
    got_b = lsh_banded_topk(tiny, n_queries=5, k=10).collect()
    assert all(r["vec_id"] != r["query_id"] for r in got_b)


def test_curation_stream_empty_batch_dir(spark, tmp_path):
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        curation_stream,
        stream_documents,
    )
    from big_data_streaming_dashboard_spark.streaming.sinks import run_to_memory

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    spark.createDataFrame([], DOCS_SCHEMA).write.parquet(
        str(docs_dir), mode="overwrite"
    )
    import uuid

    name = f"t_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        curation_stream(stream_documents(spark, str(docs_dir))), name
    )
    assert spark.table(name).count() == 0


def test_index_cache_sees_in_place_corpus_rewrite(spark, tmp_path):
    """The derived-index cache (physical.plan_cached) must key on the
    input FILES, not just the logical plan: an overwrite at the same
    path keeps the same analyzed plan, and before r8 the cache would
    keep serving the previous corpus's persisted index (the same
    staleness the r5 advice fixed in corpus_count)."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    first = ngram_jaccard_pairs(spark.read.parquet(path), threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in first} == {(1, 2)}

    # rewrite IN PLACE with a disjoint corpus -> the old pair must die
    spark.createDataFrame(
        [(1, "one two three four five"), (3, "six seven eight nine ten")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    second = ngram_jaccard_pairs(spark.read.parquet(path), threshold=0.5).collect()
    assert second == []
