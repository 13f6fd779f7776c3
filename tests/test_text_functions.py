from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.functions.text import (
    fingerprint_md5,
    punct_count,
    shingles_from_tokens,
    token_count,
    tokens,
)


def test_token_count_and_punct(spark):
    df = spark.createDataFrame([("Hello, world! How are you?",)], "text string")
    row = df.select(
        token_count("text").alias("nt"), punct_count("text").alias("np")
    ).collect()[0]
    assert row["nt"] == 5
    assert row["np"] == 3  # comma, bang, question mark


def test_shingles_from_tokens_short_text_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    out = df.select(shingles_from_tokens(tokens("text"), 3).alias("sh")).collect()
    assert out[0]["sh"] == []
    assert out[1]["sh"] == ["a b c", "b c d"]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("Foo  BAR\tbaz",), ("foo bar baz",)], "text string")
    fps = [r[0] for r in df.select(fingerprint_md5("text")).collect()]
    assert fps[0] == fps[1]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_rolling_fingerprint_properties(spark):
    from blockchain_indexer_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [("", None), ("ab", None), ("ab c", None), ("AB  c", None)],
        "text string, pad string",
    )
    fps = [r[0] for r in df.select(rolling_fingerprint("text")).collect()]
    # empty → 0; manual Rabin-Karp for "ab": (97*131 + 98) % (2^31-1)
    assert fps[0] == 0
    assert fps[1] == (ord("a") * 131 + ord("b")) % 2147483647
    # rolling property: appending a char is one multiply-add
    assert fps[2] == ((fps[1] * 131 + ord(" ")) * 131 + ord("c")) % 2147483647
    # whitespace/case normalization invariance
    assert fps[3] == fps[2]


def test_bpe_token_count(spark):
    from blockchain_indexer_spark.functions.text import bpe_token_count

    df = spark.createDataFrame(
        [("Hello, world! It's 2026.",), ("",), ("foo_bar #42",)], "text string"
    )
    out = [r[0] for r in df.select(bpe_token_count("text")).collect()]
    # Hello , world ! It ' s 2026 .  → 9
    # foo _ bar # 42                 → 5
    assert out == [9, 0, 5]


def test_rolling_fingerprint_matches_python_reference(spark):
    """Property: the Catalyst fold equals a pure-Python Rabin-Karp over
    the normalized text, for arbitrary printable strings."""
    import re

    from hypothesis import given, settings, strategies as st

    from blockchain_indexer_spark.functions.text import rolling_fingerprint

    def py_fp(text: str) -> int:
        # Java/RE2 \s is [ \t\n\x0b\f\r]; Python's re adds \x1c-\x1f,
        # so spell the class out (the engines agree with each other,
        # Python is the odd one)
        norm = re.sub("[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
        h = 0
        for ch in norm:
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.text(st.characters(codec="ascii"), max_size=40), min_size=1, max_size=8))
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [r[0] for r in df.select(rolling_fingerprint("text")).collect()]
        assert got == [py_fp(t) for t in texts]

    check()


def test_repetition_metrics(spark):
    from blockchain_indexer_spark.functions.text import (
        dup_line_char_fraction,
        dup_line_fraction,
        mean_word_length,
    )

    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),  # 3 lines, one repeat
            (2, "unique line\nother line"),
            (3, "   \n  "),  # only blank lines
            (4, None),  # NULL text scores 0.0 like any line-less doc
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["dl"], r["dc"], r["mw"])
        for r in df.select(
            "doc_id",
            dup_line_fraction("text").alias("dl"),
            dup_line_char_fraction("text").alias("dc"),
            mean_word_length("text").alias("mw"),
        ).collect()
    }
    assert out[1] == (pytest.approx(1 / 3), pytest.approx(1 / 3), pytest.approx(1.0))
    assert out[2] == (0.0, 0.0, pytest.approx(4.75))
    assert out[3][:2] == (0.0, 0.0)
    assert out[4][:2] == (0.0, 0.0)
    assert out[4][2] is None


def test_hll_cardinality_within_error_bound(spark, sf_dir):
    from blockchain_indexer_spark.plans import REGISTRY

    exact = {
        r["source"]: r["distinct_tokens"]
        for r in REGISTRY["corpus_token_cardinality"].build(spark, sf_dir).collect()
    }
    approx = {
        r["source"]: r["approx_distinct_tokens"]
        for r in REGISTRY["corpus_token_cardinality_approx"].build(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for src, n in exact.items():
        rel_err = abs(approx[src] - n) / n
        assert rel_err < 0.05, f"{src}: HLL estimate off by {rel_err:.1%} (n={n})"


def test_edge_documents_tokenize_cleanly(spark):
    """Phantom-empty-token and CRLF regressions: F.trim strips only
    spaces, so tab/newline-padded docs used to emit '' tokens and
    count \r-only lines; ratios over zero tokens must be NULL, not an
    ANSI divide-by-zero abort."""
    from blockchain_indexer_spark.functions.text import (
        doc_lines,
        mean_word_length,
        token_count,
        tokens,
    )

    rows = [(0, ""), (1, "\thi"), (2, "hello world\n"), (3, "a\r\n\r\nb\r\n"), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n"], r["toks"], r["lines"], r["mwl"])
        for r in df.select(
            "doc_id",
            token_count("text").alias("n"),
            tokens("text").alias("toks"),
            doc_lines("text").alias("lines"),
            mean_word_length("text").alias("mwl"),
        ).collect()
    }
    assert got[0] == (0, [], [], None)
    assert got[1] == (1, ["hi"], ["hi"], 2.0)
    assert got[2] == (2, ["hello", "world"], ["hello world"], 5.0)
    assert got[3][2] == ["a", "b"]  # \r-only lines are blank, \r stripped
    assert got[4] == (0, [], [], None)  # whitespace-only doc
