"""Bigram-LM fluency scoring (operators/lm.py): hand-computed counts
on a tiny corpus, coverage/NULL contracts, and the trigram backoff
levels."""

import math

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.lm import (
    bigram_counts,
    bigram_fluency,
)


def _toks(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, toks array<string>")


@pytest.fixture(scope="module")
def tiny(spark):
    # train = the corpus itself in these tests (train == docs)
    return _toks(
        spark,
        [
            (0, ["a", "b", "a", "b"]),   # bigrams: ab, ba, ab
            (1, ["a", "b", "c"]),        # ab, bc
            (2, ["z"]),                  # no bigrams
            (3, []),                     # empty
        ],
    )


def test_bigram_counts_by_hand(spark, tiny):
    c2, c1, v = bigram_counts(tiny)
    got = {(r["w1"], r["w2"]): r["c2"] for r in c2.collect()}
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    got1 = {r["w1"]: r["c1"] for r in c1.collect()}
    assert got1 == {"a": 3, "b": 2}
    assert v.collect()[0]["_V"] == 4  # a b c z


def test_fluency_by_hand(spark, tiny):
    out = {r["doc_id"]: r for r in bigram_fluency(tiny, tiny).collect()}
    assert set(out) == {0, 1, 2, 3}  # every doc present
    # V=4; p(ab)=(3+1)/(3+4)=4/7, p(ba)=(1+1)/(2+4)=2/6, p(bc)=(1+1)/(2+4)
    ab = math.floor(1e12 * (4 / 7))
    ba = math.floor(1e12 * (2 / 6))
    assert out[0]["n_bigrams"] == 3 and out[0]["n_oov"] == 0
    assert out[0]["fluency_nano"] == (ab + ba + ab) // 3
    assert out[1]["fluency_nano"] == (ab + ba) // 2
    for d in (2, 3):  # no bigrams → zeros, not NULL/missing
        assert out[d]["n_bigrams"] == 0
        assert out[d]["n_oov"] == 0
        assert out[d]["fluency_nano"] == 0


def test_oov_scoring_on_held_out_docs(spark, tiny):
    docs = _toks(spark, [(9, ["q", "r", "a", "b"])])  # qr, ra unseen; ab seen
    row = bigram_fluency(docs, tiny).collect()[0]
    assert row["n_bigrams"] == 3
    assert row["n_oov"] == 2
    # unseen-context bigrams score (0+1)/(0+4)
    unseen = math.floor(1e12 * (1 / 4))
    ab = math.floor(1e12 * (4 / 7))
    assert row["fluency_nano"] == (unseen + unseen + ab) // 3


def test_fluent_docs_outscore_shuffled_ones(spark):
    # a corpus with one dominant phrasing; a doc following it scores
    # above a doc of the same tokens in scrambled order
    train = _toks(spark, [(i, ["the", "cat", "sat"]) for i in range(20)])
    docs = _toks(spark, [(100, ["the", "cat", "sat"]), (101, ["sat", "the", "cat"])])
    out = {r["doc_id"]: r["fluency_nano"] for r in bigram_fluency(docs, train).collect()}
    assert out[100] > out[101]


def test_null_tokens_row_scores_zero(spark, tiny):
    docs = spark.createDataFrame(
        [(7, None)], "doc_id long, toks array<string>"
    )
    row = bigram_fluency(docs, tiny).collect()[0]
    assert (row["n_bigrams"], row["n_oov"], row["fluency_nano"]) == (0, 0, 0)


def test_trigram_stupid_backoff_levels_by_hand(spark):
    """Each backoff level hit exactly, hand-computed: train corpus
    'a b c a b d', score docs that contain (seen trigram), (unseen
    trigram but seen bigram), (unseen both, known unigram), and
    (OOV w3 -> score 0)."""
    from blockchain_indexer_spark.operators.lm import trigram_fluency_backoff

    train = _toks(spark, [(0, ["a", "b", "c", "a", "b", "d"])])
    # train trigrams: abc, bca, cab, abd ; contexts ab:2, bc:1, ca:1
    # train bigrams: ab:2, bc:1, ca:1, ab(2nd), bd:1 -> ab=2,bc=1,ca=1,bd=1
    # unigrams: a:2 b:2 c:1 d:1, N=6
    docs = _toks(
        spark,
        [
            (10, ["a", "b", "c"]),  # abc seen: c3=1/c2ctx(ab)=2 -> 0.5
            (11, ["c", "a", "b"]),  # cab seen: 1/1 -> 1.0
            (12, ["b", "c", "b"]),  # bcb unseen; bigram (c,b) unseen;
                                    # unigram b: 0.16 * 2/6
            (13, ["a", "b", "b"]),  # abb unseen; bigram (b,b) unseen;
                                    # unigram b: 0.16 * 2/6
            (14, ["x", "a", "b"]),  # xab unseen; bigram (a,b) SEEN:
                                    # 0.4 * c2p(ab)=2 / c1(a)=2 -> 0.4
            (15, ["a", "b", "z"]),  # OOV w3 -> 0.16 * 0/6 = 0
            (16, ["a", "b"]),       # too short: zeros
        ],
    )
    out = {r["doc_id"]: r for r in trigram_fluency_backoff(docs, train).collect()}
    assert out[10]["fluency_nano"] == 500_000_000_000
    assert out[10]["n_backoff_bigram"] == 0 == out[10]["n_backoff_unigram"]
    assert out[11]["fluency_nano"] == 1_000_000_000_000
    # 0.16 * 2/6 = floor(1e12 * (4*2)/(25*6)) = floor(1e12 * 8/150)
    expect_uni_b = math.floor(1e12 * (8.0 / 150.0))
    assert out[12]["fluency_nano"] == expect_uni_b
    assert out[12]["n_backoff_unigram"] == 1
    assert out[13]["fluency_nano"] == expect_uni_b
    # 0.4 * 2/2 = floor(1e12 * (2*2)/(5*2)) = 4e11
    assert out[14]["fluency_nano"] == 400_000_000_000
    assert out[14]["n_backoff_bigram"] == 1
    assert out[15]["fluency_nano"] == 0
    assert out[15]["n_backoff_unigram"] == 1
    assert out[16]["n_trigrams"] == 0 and out[16]["fluency_nano"] == 0


def test_trigram_mean_over_mixed_levels(spark):
    """A doc whose positions hit different levels averages the exact
    integer scores with floor division."""
    from blockchain_indexer_spark.operators.lm import trigram_fluency_backoff

    train = _toks(spark, [(0, ["a", "b", "c", "a", "b", "d"])])
    # doc trigrams: abc (0.5), bcb (0.16*2/6), cba? -> positions:
    docs = _toks(spark, [(20, ["a", "b", "c", "b"])])
    # trigrams: abc -> 5e11 ; bcb -> floor(1e12*8/150)
    out = trigram_fluency_backoff(docs, train).collect()[0]
    s = 500_000_000_000 + math.floor(1e12 * (8.0 / 150.0))
    assert out["n_trigrams"] == 2
    assert out["fluency_nano"] == s // 2
