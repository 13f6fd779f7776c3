"""Degenerate-input sweep: every family of operators must handle an
EMPTY (but correctly-typed) input — a normal state for a shard before
first promote, a filtered-out partition, or a fresh index — by
returning an empty result, not crashing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>, label int")


def test_dedup_family_on_empty(spark, empty_docs):
    from blockchain_indexer_spark.operators.dedup import (
        decontaminate,
        exact_dup_clusters,
        minhash_index_update,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_candidates,
    )

    assert exact_dup_clusters(empty_docs, "doc_id", "text").count() == 0
    assert ngram_jaccard_pairs(empty_docs, "doc_id", "text").count() == 0
    assert minhash_lsh_candidates(empty_docs, "doc_id", "text").count() == 0
    assert simhash_candidates(empty_docs, "doc_id", "text").count() == 0
    rows, pairs = minhash_index_update(None, empty_docs, "doc_id", "text")
    assert rows.count() == 0 and pairs.count() == 0
    # empty eval set: nothing is contaminated, corpus side intact
    some = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    out = decontaminate(some, empty_docs).collect()
    assert len(out) == 1 and out[0]["n_common_eval"] == 0


def test_text_functions_on_empty(spark, empty_docs):
    from blockchain_indexer_spark.functions.text import (
        bpe_token_count,
        token_count,
    )

    out = empty_docs.select(token_count("text"), bpe_token_count("text"))
    assert out.count() == 0


def test_similarity_family_on_empty_queries(spark, empty_emb, sf_dir):
    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assert brute_force_topk(emb, empty_emb, k=3).count() == 0
    assert lsh_topk(emb, empty_emb, k=3).count() == 0


def test_exact_cosine_scans_on_empty_one_and_null_corpora(spark, empty_emb):
    """No row, one row, or only NULL vectors: no pair, no neighbor, no
    edge — an empty frame from each exact scan, not an error."""
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.operators.similarity import (
        all_pairs_topk_cosine,
        mutual_knn_graph,
    )

    one = spark.createDataFrame([(1, [0.5, 0.5], 0)], empty_emb.schema)
    nulls = spark.createDataFrame([(1, None, 0), (2, None, 1)], empty_emb.schema)
    for emb in (empty_emb, one, nulls):
        assert cosine_near_dup_pairs(emb).count() == 0
        assert all_pairs_topk_cosine(emb, k=3).count() == 0
        assert all_pairs_topk_cosine(emb, k=3, queries=one).count() == 0
        assert mutual_knn_graph(emb, k=3).count() == 0


def test_profile_on_empty(spark, empty_docs):
    from blockchain_indexer_spark.operators.profile import profile

    rows = profile(empty_docs).collect()
    assert len(rows) == len(empty_docs.columns)
    for r in rows:
        assert r["n_rows"] == 0
        assert r["n_nulls"] == 0  # NOT NULL (review finding: SUM over 0 rows)


def test_temporal_joins_on_empty(spark):
    from blockchain_indexer_spark.operators.asof import asof_join
    from blockchain_indexer_spark.operators.range_join import interval_point_join

    left = spark.createDataFrame([], "id long, ts long, v double")
    right = spark.createDataFrame([], "id long, rts long, w double")
    assert asof_join(left, right, on="id", left_ts="ts", right_ts="rts").count() == 0
    points = spark.createDataFrame([], "pid long, ts long")
    spans = spark.createDataFrame([], "sid long, start long, end long")
    assert (
        interval_point_join(
            points, spans, point_col="ts", start_col="start", end_col="end",
            bucket_width=1000,
        ).count()
        == 0
    )


def test_sampling_and_packing_on_empty(spark, empty_docs):
    from blockchain_indexer_spark.operators.packing import pack_chunks
    from blockchain_indexer_spark.operators.sampling import hash_split

    assert hash_split(empty_docs, "doc_id").count() == 0
    assert pack_chunks(empty_docs, "doc_id", "source", F.col("n_chars")).count() == 0


def test_pq_distortion_rejects_empty_corpus(empty_emb):
    from blockchain_indexer_spark.operators.similarity import pq_distortion

    with pytest.raises(ValueError, match="corpus smaller"):
        # pq codebooks cannot seed from an empty corpus: loud, not silent
        pq_distortion(empty_emb, "vec_id", "embedding", m=16, n_codes=32).count()
