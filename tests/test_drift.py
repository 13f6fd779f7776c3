"""Corpus-monitor semantics: DSIR importance weights, exact KS drift,
group-pair content Jaccard (operators/drift.py)."""

from __future__ import annotations


from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.drift import (
    group_pair_jaccard,
    importance_weights,
    ks_drift,
)

NANO = 1_000_000_000


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_importance_weights_prefer_target_like_docs(spark):
    # target vocabulary {alpha beta}, off-target vocabulary {gamma delta}
    rows = (
        [(i, "alpha beta alpha beta", "en") for i in range(10)]
        + [(100 + i, "gamma delta gamma delta", "xx") for i in range(10)]
        + [(200, None, "en"), (201, "   ", "en")]
    )
    d = _docs(spark, rows)
    out = importance_weights(d, d.filter(F.col("lang") == "en"), "doc_id", "text")
    got = {r["doc_id"]: (r["n_tokens"], r["weight_nano"]) for r in out.collect()}
    assert len(got) == 22  # every input doc, incl. NULL/blank text
    assert got[200] == (0, 0) and got[201] == (0, 0)
    # target-vocabulary docs must outweigh off-target ones, and
    # target-like docs should sit above the 1e9 "corpus-average" line
    assert got[0][1] > NANO > got[100][1]
    # identical text -> identical weight (pure function of the tokens)
    assert got[0] == got[9] and got[100] == got[109]


def test_ks_drift_disjoint_and_identical_distributions(spark):
    # group A: values 1..10; group B: values 101..110 (fully disjoint);
    # groups C, D: identical distributions
    rows = (
        [("A", v) for v in range(1, 11)]
        + [("B", v) for v in range(101, 111)]
        + [("C", v) for v in (55, 60, 65)] * 2
        + [("D", v) for v in (55, 60, 65)] * 2
        + [("A", None)]  # NULL value ignored
    )
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {r["source"]: r for r in ks_drift(df, "source", "n_chars").collect()}
    assert out["A"]["n_group"] == 10 and out["A"]["n_rest"] == 22
    # A sits fully below the rest -> at x=10 its CDF is 1, rest's is 0
    assert out["A"]["ks_nano"] == NANO
    # C vs rest(= D plus A/B tails) is NOT 1.0 — sanity: strictly less
    assert 0 < out["C"]["ks_nano"] < NANO
    # C and D see the same "rest" shape by symmetry
    assert out["C"]["ks_nano"] == out["D"]["ks_nano"]


def test_ks_drift_hand_computed_small_case(spark):
    # g: {1, 3}, rest: {2, 4}; n_g = n_r = 2
    # grid x=1: |1*2 - 0*2| = 2; x=2: |1*2 - 1*2| = 0;
    # x=3: |2*2 - 1*2| = 2; x=4: 0  -> ks_num=2, D = 2/4 = 0.5
    rows = [("g", 1), ("g", 3), ("r", 2), ("r", 4)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {r["source"]: r for r in ks_drift(df, "source", "n_chars").collect()}
    assert out["g"]["ks_num"] == 2
    assert out["g"]["ks_nano"] == NANO // 2


def test_group_pair_jaccard_exact_counts(spark):
    # shingles(k=2) of A: {a b, b c}; B: {a b, b c} (identical);
    # C: {x y} (disjoint); D shares one of A's two
    rows = [
        ("A", "a b c"),
        ("B", "a b c"),
        ("C", "x y"),
        ("D", "a b"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in group_pair_jaccard(df, "source", "text", k=2).collect()
    }
    assert out[("A", "B")]["n_common"] == 2
    assert out[("A", "B")]["jaccard_nano"] == NANO  # identical sets
    ad = out[("A", "D")]
    assert (ad["n_a"], ad["n_b"], ad["n_common"]) == (2, 1, 1)
    assert ad["jaccard_nano"] == NANO // 2
    assert ("A", "C") not in out and ("C", "D") not in out  # no overlap


def test_group_pair_jaccard_short_and_null_texts_ignored(spark):
    rows = [("A", "a b c d"), ("A", None), ("B", "a b"), ("B", "c")]
    # k=3: B's texts are all shorter than 3 tokens -> B has no shingles
    df = spark.createDataFrame(rows, "source string, text string")
    out = group_pair_jaccard(df, "source", "text", k=3).collect()
    assert out == []


def test_distinctive_terms_surfaces_group_specific_vocabulary(spark):
    from blockchain_indexer_spark.operators.drift import distinctive_terms

    rows = (
        [(i, "common words plus zebra zebra zebra", "A") for i in range(3)]
        + [(10 + i, "common words plus yak yak yak", "B") for i in range(3)]
        + [(20, None, "A"), (21, "common words", None)]  # NULL text / group
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = distinctive_terms(df, "source", "text", k=2, min_count=3).collect()
    top = {r["source"]: [] for r in out}
    for r in sorted(out, key=lambda r: (r["source"], r["rank"])):
        top[r["source"]].append(r["term"])
    assert top["A"][0] == "zebra" and top["B"][0] == "yak"
    # shared vocabulary never outranks the group-specific term
    assert "common" not in (top["A"][0], top["B"][0])
    # min_count: every reported term has >= 3 in-group occurrences
    assert all(r["n_group"] >= 3 for r in out)
