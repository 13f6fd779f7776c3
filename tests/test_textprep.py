"""operators/textprep.py: CCNet-style boilerplate removal and the
engine-deterministic integer-scaled BM25."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, lines array<string>")


def test_boilerplate_scrub_drops_repeated_lines(spark):
    from blockchain_indexer_spark.operators.textprep import strip_boilerplate

    rows = [
        (1, "web", ["COOKIE BANNER", "real content one", "FOOTER"]),
        (2, "web", ["COOKIE BANNER", "real content two", "FOOTER"]),
        (3, "web", ["COOKIE BANNER", "unique text here"]),
        (4, "web", ["no shared lines at all"]),
        # a line repeated WITHIN one doc counts once toward df
        (5, "web", ["solo dup", "solo dup", "middle", "solo dup"]),
        (6, "wiki", ["COOKIE BANNER"]),  # other group: df=1 there, kept
    ]
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(
            _docs(spark, rows), min_docs=2, min_frac=0.05
        ).collect()
    }
    assert out[1]["clean_text"] == "real content one"
    assert out[2]["clean_text"] == "real content two"
    assert (out[1]["n_lines"], out[1]["n_boiler_lines"]) == (3, 2)
    assert out[3]["clean_text"] == "unique text here"
    assert out[4]["clean_text"] == "no shared lines at all"
    # within-doc repetition is not boilerplate (df=1), order preserved
    assert out[5]["clean_text"] == "solo dup\nsolo dup\nmiddle\nsolo dup"
    assert out[5]["n_boiler_lines"] == 0
    # group isolation: wiki's single banner doc keeps it
    assert out[6]["clean_text"] == "COOKIE BANNER"


def test_boilerplate_scrub_min_frac_threshold(spark):
    """With 60 docs sharing a line in a 60-doc group, min_frac=0.05
    gives threshold max(2, ceil(3))=3 — a line in exactly 2 docs
    survives, one in 3 does not."""
    from blockchain_indexer_spark.operators.textprep import strip_boilerplate

    rows = [(i, "s", ["common3" if i < 3 else f"u{i}", "pair" if i < 2 else f"v{i}"])
            for i in range(60)]
    out = {r["doc_id"]: r for r in strip_boilerplate(_docs(spark, rows)).collect()}
    assert out[0]["n_boiler_lines"] == 1  # common3 (df=3) dropped
    assert "pair" in out[0]["clean_text"]  # df=2 < ceil(0.05*60)=3 kept


def test_boilerplate_scrub_null_and_empty_docs(spark):
    from blockchain_indexer_spark.operators.textprep import strip_boilerplate

    rows = [(1, "s", None), (2, "s", []), (3, "s", ["x"])]
    out = {r["doc_id"]: r for r in strip_boilerplate(_docs(spark, rows)).collect()}
    for i in (1, 2):
        assert (out[i]["n_lines"], out[i]["n_boiler_lines"], out[i]["clean_text"]) == (
            0,
            0,
            "",
        )
    assert out[3]["clean_text"] == "x"


def _bm25_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, ["apple", "banana", "apple"]),
            (2, ["apple", "cherry"]),
            (3, ["banana", "banana", "banana", "date"]),
            (4, ["elderberry"]),
        ],
        "doc_id long, toks array<string>",
    )
    queries = spark.createDataFrame(
        [(100, "apple"), (100, "banana"), (200, "elderberry")],
        "query_id long, term string",
    )
    return docs, queries


def _expected_nano(tf, df, dl, n, s):
    num = 22 * s * tf * (2 * n - 2 * df + 1)
    den = (10 * s * tf + 3 * s + 9 * dl * n) * (2 * df + 1)
    return math.floor(1e9 * (num / den))


def test_bm25_scores_match_hand_computation(spark):
    from blockchain_indexer_spark.operators.textprep import bm25_scores

    docs, queries = _bm25_fixture(spark)
    n, s = 4, 10
    got = {
        (r["query_id"], r["doc_id"]): (r["n_hit_terms"], r["score_nano"])
        for r in bm25_scores(docs, queries).collect()
    }
    exp = {
        (100, 1): (2, _expected_nano(2, 2, 3, n, s) + _expected_nano(1, 2, 3, n, s)),
        (100, 2): (1, _expected_nano(1, 2, 2, n, s)),
        (100, 3): (1, _expected_nano(3, 2, 4, n, s)),
        (200, 4): (1, _expected_nano(1, 1, 1, n, s)),
    }
    assert got == exp


def test_bm25_topk_ranks_and_ties(spark):
    from blockchain_indexer_spark.operators.textprep import bm25_topk

    docs, queries = _bm25_fixture(spark)
    rows = bm25_topk(docs, queries, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    assert len(by_q[100]) == 2  # top-2 of 3 candidates
    ranks = dict(by_q[100])
    assert set(ranks) == {1, 2}
    assert by_q[200] == [(1, 4)]


def test_bm25_log_idf_variant_ranks_sensibly(spark):
    """The production ln-idf path: a rare term must outrank a common
    one at equal tf/dl; negative-idf terms (df > N/2) drag scores
    down like standard BM25."""
    from blockchain_indexer_spark.operators.textprep import bm25_scores

    docs = spark.createDataFrame(
        [(i, ["common", "filler"] if i else ["rare", "filler"]) for i in range(5)],
        "doc_id long, toks array<string>",
    )
    queries = spark.createDataFrame(
        [(1, "rare"), (2, "common")], "query_id long, term string"
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score_nano"]
        for r in bm25_scores(docs, queries, use_log_idf=True).collect()
    }
    assert got[(1, 0)] > max(v for (q, _), v in got.items() if q == 2)


def test_intra_dedup_keeps_first_occurrence_order(spark):
    from blockchain_indexer_spark.operators.textprep import dedup_doc_lines

    docs = spark.createDataFrame(
        [
            (1, ["b", "a", "b", "c", "a", "b"]),
            (2, []),
            (3, None),
            (4, ["x"]),
        ],
        "doc_id long, lines array<string>",
    )
    out = {r["doc_id"]: r for r in dedup_doc_lines(docs).collect()}
    assert out[1]["clean_text"] == "b\na\nc"  # first occurrences, in order
    assert (out[1]["n_lines"], out[1]["n_unique_lines"]) == (6, 3)
    for d in (2, 3):
        assert (out[d]["n_lines"], out[d]["n_unique_lines"], out[d]["clean_text"]) == (0, 0, "")
    assert out[4]["clean_text"] == "x"


def test_intra_dedup_is_shuffle_free(spark):
    from blockchain_indexer_spark.operators.textprep import dedup_doc_lines

    docs = spark.createDataFrame([(1, ["a", "a"])], "doc_id long, lines array<string>")
    plan = dedup_doc_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# mmr_rerank
# ---------------------------------------------------------------------------


def _mmr_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, ["apple", "x", "y"]),
            (2, ["apple", "x", "y"]),  # exact token-set dup of doc 1
            (3, ["apple", "z", "w"]),  # same relevance, different content
        ],
        "doc_id bigint, toks array<string>",
    )
    queries = spark.createDataFrame([(100, "apple")], "query_id bigint, term string")
    return docs, queries


def test_mmr_diversifies_over_pure_relevance(spark):
    """All three docs tie on BM25 (identical tf/dl/df for the query
    term), so pure relevance ranks 1,2,3 by id — but doc 2 is a
    token-set duplicate of doc 1, so MMR must demote it below doc 3."""
    from blockchain_indexer_spark.operators.textprep import bm25_topk, mmr_rerank

    docs, queries = _mmr_fixture(spark)
    bm25 = [r.doc_id for r in bm25_topk(docs, queries, k=3).orderBy("rank").collect()]
    assert bm25 == [1, 2, 3]
    out = mmr_rerank(docs, queries, k=3, pool=10).orderBy("mmr_rank").collect()
    assert [r.doc_id for r in out] == [1, 3, 2]
    by_doc = {r.doc_id: r for r in out}
    # doc 2's penalty is the full 1e9 jaccard to its duplicate doc 1
    assert by_doc[2].max_sim_nano == 1_000_000_000
    # doc 3 overlaps doc 1 only on 'apple': |∩|=1, |∪|=5
    assert by_doc[3].max_sim_nano == 200_000_000
    for r in out:
        assert r.mmr_nano == 7 * r.rel_nano - 3 * r.max_sim_nano
    assert by_doc[1].max_sim_nano == 0  # first pick pays no penalty


def test_mmr_rank_capped_by_pool_membership(spark):
    from blockchain_indexer_spark.operators.textprep import mmr_rerank

    docs, queries = _mmr_fixture(spark)
    out = mmr_rerank(docs, queries, k=5, pool=10).collect()
    # only 3 candidates exist -> 3 ranks, never padded
    assert sorted(r.mmr_rank for r in out) == [1, 2, 3]


def test_mmr_matches_python_reference_on_random_corpora(spark):
    """Third implementation check: the full MMR pipeline (rational
    BM25 nanos -> pool -> integer jaccard -> greedy) reimplemented in
    plain Python over a seeded random corpus with planted duplicates,
    compared row-for-row against the Spark operator."""
    import math

    from blockchain_indexer_spark.operators.textprep import mmr_rerank

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(30)]
    toks = {
        i: [str(w) for w in rng.choice(vocab, size=int(rng.integers(3, 12)))]
        for i in range(25)
    }
    toks[5] = list(toks[4])  # exact duplicate: MMR must demote one
    toks[9] = toks[8][:4] + toks[10][:3]  # partial overlap
    qterms = {100: ["w1", "w2"], 101: ["w3"], 102: ["w4", "w1", "w1"]}
    k, pool = 4, 6

    docs = spark.createDataFrame(
        [(i, t) for i, t in toks.items()], "doc_id bigint, toks array<string>"
    )
    queries = spark.createDataFrame(
        [(q, t) for q, ts in qterms.items() for t in ts],
        "query_id bigint, term string",
    )
    got = sorted(
        (r.query_id, r.mmr_rank, r.doc_id, r.rel_nano, r.max_sim_nano, r.mmr_nano)
        for r in mmr_rerank(docs, queries, k=k, pool=pool).collect()
    )

    # ---- reference: same integer arithmetic, independent code paths
    N = len(toks)
    S = sum(len(t) for t in toks.values())
    tf: dict[tuple[int, str], int] = {}
    for d, ts in toks.items():
        for w in ts:
            tf[(d, w)] = tf.get((d, w), 0) + 1
    dl = {d: len(ts) for d, ts in toks.items()}
    dfc: dict[str, int] = {}
    for (d, w) in tf:
        dfc[w] = dfc.get(w, 0) + 1
    want = []
    for q, terms in qterms.items():
        rel: dict[int, int] = {}
        for w in sorted(set(terms)):  # queries are deduped in-operator
            if w not in dfc:
                continue
            for d in toks:
                if (d, w) not in tf:
                    continue
                num = 22 * S * tf[(d, w)] * (2 * N - 2 * dfc[w] + 1)
                den = (10 * S * tf[(d, w)] + 3 * S + 9 * dl[d] * N) * (
                    2 * dfc[w] + 1
                )
                rel[d] = rel.get(d, 0) + math.floor(1e9 * (num / den))
        cand = sorted(rel, key=lambda d: (-rel[d], d))[:pool]
        dset = {d: set(toks[d]) for d in cand}

        def jac(a, b):
            c = len(dset[a] & dset[b])
            return 0 if c == 0 else (1_000_000_000 * c) // len(dset[a] | dset[b])

        sel: list[int] = []
        remaining = sorted(cand)
        for r in range(1, k + 1):
            if not remaining:
                break
            best = None
            for d in remaining:
                ms = max((jac(d, s) for s in sel), default=0)
                m = 7 * rel[d] - 3 * ms
                if best is None or m > best[0]:
                    best = (m, d, ms)
            m, d, ms = best
            want.append((q, r, d, rel[d], ms, m))
            sel.append(d)
            remaining.remove(d)
    assert got == sorted(want)


def test_mmr_no_query_hits_yields_empty(spark):
    from blockchain_indexer_spark.operators.textprep import mmr_rerank

    docs = spark.createDataFrame(
        [(1, ["alpha"])], "doc_id bigint, toks array<string>"
    )
    queries = spark.createDataFrame(
        [(9, "missing")], "query_id bigint, term string"
    )
    assert mmr_rerank(docs, queries).count() == 0
