"""Dedup operator semantics: LSH candidate recall vs exact n-gram
Jaccard truth, simhash determinism and locality."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.dedup import (
    exact_dup_clusters,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from blockchain_indexer_spark.sources.parquet import load_table


def test_exact_dup_clusters_finds_planted_dupes(spark):
    rows = [
        (1, "Hello   World"),
        (2, "hello world"),  # same after normalization
        (3, "something else entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["keep_id"]: r["n_copies"] for r in exact_dup_clusters(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_recall_vs_jaccard_truth(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.35).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    if truth:
        recall = len(truth & cands) / len(truth)
        # 16 bands × 4 rows at J>=0.35 → expected per-pair recall
        # 1-(1-J^4)^16 ≳ 0.2; across the pair population well above.
        assert recall >= 0.5, f"LSH recall too low: {recall} over {len(truth)} true pairs"


def test_simhash_deterministic_and_local(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(1, base), (2, base), (3, "completely different words " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_cosine_near_dups_match_brute_force(spark, sf_dir, monkeypatch):
    """Both regimes — the corpus-shipped scan and, with the gate forced
    to zero bytes, the replicated block join — equal the expression
    reference."""
    from blockchain_indexer_spark.functions.vectors import dot, norm_sq, quantize
    from blockchain_indexer_spark.operators import similarity
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(200)
    dim = len(base.first()["embedding"])
    # an all-zero vector and a NULL embedding have no cosine: neither
    # may appear in any pair
    zero_id, null_id = 10**9, 10**9 + 1
    extra = spark.createDataFrame(
        [(zero_id, [0.0] * dim), (null_id, None)], base.schema
    )
    emb = base.unionByName(extra)
    # expression reference: every ordered pair scored as
    # dot / sqrt(norm_sq·norm_sq); a zero norm divides to NULL
    q = emb.select("vec_id", quantize("embedding").alias("v"))
    a, b = q.alias("a"), q.alias("b")
    want = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.try_divide(
                dot(F.col("a.v"), F.col("b.v")),
                F.sqrt(norm_sq(F.col("a.v")) * norm_sq(F.col("b.v"))),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
        .collect()
    }
    assert want
    for gate in (similarity._BROADCAST_BYTES, 0):
        monkeypatch.setattr(similarity, "_BROADCAST_BYTES", gate)
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3).collect()
        }
        assert got == want, gate
        assert not {zero_id, null_id} & {i for pair in got for i in pair}


def test_cosine_near_dups_blocking_invariant(spark, sf_dir, monkeypatch):
    """The replicated block join (forced: the gate at zero bytes) must
    emit exactly the corpus-shipped scan's pair set for any block size
    — including cross-block pairs whose larger id hashes into the
    earlier block (the ordering-normalization path)."""
    from blockchain_indexer_spark.operators import similarity
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(150)
    want = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    assert want
    monkeypatch.setattr(similarity, "_BROADCAST_BYTES", 0)
    for bs in (1_000_000, 7, 40):
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in cosine_near_dup_pairs(
                emb, "vec_id", "embedding", threshold=0.3, block_size=bs
            ).collect()
        }
        assert got == want, bs


def test_simhash_candidates_complete_for_small_hamming(spark):
    from blockchain_indexer_spark.operators.dedup import simhash64, simhash_candidates
    from pyspark.sql import functions as F
    import itertools

    base = "the quick brown fox jumps over the lazy dog sits on a mat " * 4
    rows = [
        (1, base),
        (2, base + "extra"),          # small perturbation
        (3, base.replace("fox", "cat")),
        (4, "entirely unrelated content with different words " * 6),
        (5, base),                    # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(df, "doc_id", "text", max_hamming=3, bands=4).collect()
    }
    # brute-force ground truth over all pairs
    sigs = {r["_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    truth = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    # pigeonhole: banding must find EVERY pair at hamming <= bands-1
    assert got == truth
    assert (1, 5) in got and got[(1, 5)] == 0


def test_shared_shingles_matches_per_operator_shingling(spark, sf_dir):
    """shingles= (one materialized shingle pass feeding both Jaccard
    and MinHash+LSH) must be result-identical to each operator
    shingling on its own."""
    from blockchain_indexer_spark.operators.dedup import distinct_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = distinct_shingles(docs, "doc_id", "text", 3)

    own_j = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    shared_j = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2, shingles=sh).collect()
    assert sorted(map(tuple, own_j)) == sorted(map(tuple, shared_j))

    own_m = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()}
    shared_m = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text", shingles=sh).collect()
    }
    assert own_m == shared_m


def test_decontaminate_flags_eval_overlap(spark):
    from blockchain_indexer_spark.operators.dedup import decontaminate

    # train doc 1 == eval doc 10 verbatim; train doc 2 shares nothing
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "entirely different words without any overlap here"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_common_eval"], r["is_contaminated"])
        for r in decontaminate(train, ev, "doc_id", "text", k=3, min_common=3).collect()
    }
    assert out[1] == (7, 7, True)  # 9 tokens -> 7 trigrams, all shared
    assert out[2] == (5, 0, False)


def test_decontaminate_contamination_ratio(spark):
    from blockchain_indexer_spark.operators.dedup import decontaminate

    # half of train doc's shingles overlap the eval side
    train = spark.createDataFrame([(1, "a b c d e f")], "doc_id bigint, text string")
    ev = spark.createDataFrame([(2, "a b c d")], "doc_id bigint, text string")
    row = decontaminate(train, ev, "doc_id", "text", k=3, min_common=1).collect()[0]
    assert row["n_shingles"] == 4  # "a b c" .. "d e f"
    assert row["n_common_eval"] == 2  # "a b c", "b c d"
    assert row["contamination"] == 0.5
    assert row["is_contaminated"]


def test_jaccard_density_escape_matches_exact_on_dense_corpus(spark, monkeypatch):
    """A tiny-vocab corpus where EVERY shingle is over a df-cap of 1:
    the density probe must fire (floor lowered for the test), route
    candidates through MinHash-LSH, and the exact verify must
    reproduce the uncapped ground truth for the planted duplicate
    pairs (identical docs share identical signatures, so banding can
    never miss them)."""
    from blockchain_indexer_spark.operators import dedup as dedup_mod
    from blockchain_indexer_spark.operators.dedup import ngram_jaccard_pairs

    monkeypatch.setattr(dedup_mod, "_ESCAPE_MIN_PAIR_WORK", 0)

    base = "a b c d e f g h i j k"
    rows = [(i, base) for i in range(6)] + [
        (10, "x y z " + base),  # near-dup of the clones
        (20, "p q r s t u v w"),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=None
        ).collect()
    }
    escaped = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df,
            "doc_id",
            "text",
            k=3,
            threshold=0.5,
            max_doc_freq=1,
            density_escape=0.0,  # any amplification fires the escape
        ).collect()
    }
    clone_pairs = {(a, b) for a in range(6) for b in range(6) if a < b}
    assert clone_pairs <= set(escaped)
    for p in escaped:
        assert escaped[p] == truth[p]  # reported jaccard is TRUE jaccard
    # the deterministic capped path (escape disabled) still reports
    # exact values through the stop-shingle verify
    capped = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df,
            "doc_id",
            "text",
            k=3,
            threshold=0.5,
            max_doc_freq=1,
            density_escape=None,
        ).collect()
    }
    for p in capped:
        assert capped[p] == truth[p]


def test_lsh_bands_for_recall_curve():
    from blockchain_indexer_spark.operators.dedup import _lsh_bands_for

    for t in (0.2, 0.5, 0.8, 0.95):
        bands = _lsh_bands_for(t)
        rows = 64 // bands
        target = min(0.95, t + 0.2)
        assert 1 - (1 - target**rows) ** bands >= 0.90
    # mid thresholds must NOT degrade to r=2 banding (the measured 48M
    # candidate blowup) — r=4 banding means at most 16 bands
    assert _lsh_bands_for(0.5) <= 16
    # higher thresholds must allow more selective banding (fewer bands)
    assert _lsh_bands_for(0.9) < _lsh_bands_for(0.3)


def test_md5_variant_rejects_prehashed_shingles(spark):
    from blockchain_indexer_spark.operators.dedup import distinct_shingles, minhash_signatures

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    hashed = distinct_shingles(docs, "doc_id", "text")  # bigint shingles
    with pytest.raises(ValueError, match="STRING shingles"):
        minhash_signatures(docs, "doc_id", "text", shingles=hashed, hash_fn="md5_60")
    # the documented fix works
    strings = distinct_shingles(docs, "doc_id", "text", hash_shingles=False)
    assert minhash_signatures(
        docs, "doc_id", "text", shingles=strings, hash_fn="md5_60"
    ).count() == 1

def test_xxhash_variant_hashes_string_shingles_to_match_default(spark):
    """ADVICE r1: a shared STRING-shingle frame fed to the xxhash64
    path must yield the same signatures as the default hashed-shingle
    pipeline (min over xxhash64(xxhash64(shingle), seed))."""
    from blockchain_indexer_spark.operators.dedup import distinct_shingles, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g")], "doc_id bigint, text string"
    )
    default = minhash_signatures(docs, "doc_id", "text", num_hashes=8).collect()
    strings = distinct_shingles(docs, "doc_id", "text", hash_shingles=False)
    shared = minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, shingles=strings
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, shared))


def test_decontaminate_validates_missing_inputs(spark):
    from blockchain_indexer_spark.operators.dedup import decontaminate, distinct_shingles

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    sh = distinct_shingles(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="train or train_shingles"):
        decontaminate(eval_shingles=sh)
    with pytest.raises(ValueError, match="eval_df or eval_shingles"):
        decontaminate(train_shingles=sh)


def test_minhash_incremental_equals_full(spark, sf_dir):
    """Three-batch incremental index maintenance emits exactly the
    full-corpus candidate set (production xxhash64 path)."""
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.dedup import (
        minhash_index_update,
        minhash_lsh_candidates,
    )
    from blockchain_indexer_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(d, "doc_id", "text").collect()
    }
    index, got = None, set()
    for mod in range(3):
        batch = d.filter(F.col("doc_id") % 3 == mod)
        rows, pairs = minhash_index_update(index, batch, "doc_id", "text")
        got |= {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        index = rows if index is None else index.unionByName(rows)
    assert got == full and len(full) > 0


@pytest.mark.slowe2e
def test_streaming_minhash_index_update_equals_full_corpus(
    spark, tmp_path_factory
):
    """The LSH index-maintenance deployment shape end to end: a
    parquet file stream drained one file per trigger through
    foreachBatch, each micro-batch appending its band rows to the
    persisted index dir and its candidate pairs to an output dir
    (new x new plus new x index — never old x old). The accumulated
    distinct pair union must equal the one-shot full-corpus LSH
    candidate set, under whatever batching the file source produced —
    the same union-equivalence the batch-loop test pins, now driven
    through a real streaming query like the reference's live loop."""
    import os

    from blockchain_indexer_spark.operators.dedup import (
        minhash_index_update,
        minhash_lsh_candidates,
    )

    root = str(tmp_path_factory.mktemp("sminhash"))
    feed = os.path.join(root, "feed")
    ckpt = os.path.join(root, "ckpt")
    idx_dir = os.path.join(root, "band_index")
    pairs_dir = os.path.join(root, "pairs")
    os.makedirs(feed)
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),      # near-dup of 1
        (3, "one two three four five six"),
        (4, "alpha beta gamma delta epsilon"),   # exact dup of 1, later file
        (5, "one two three four five seven"),    # near-dup of 3, later file
        (6, "totally unrelated content words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).repartition(1).write.mode(
            "append"
        ).parquet(feed)

    def sink(batch_df, epoch_id):
        index = (
            spark.read.parquet(idx_dir) if os.path.isdir(idx_dir) else None
        )
        new_rows, new_pairs = minhash_index_update(
            index, batch_df, "doc_id", "text"
        )
        new_pairs = new_pairs.localCheckpoint(eager=True)
        new_rows.write.mode("append").parquet(idx_dir)
        new_pairs.write.mode("append").parquet(pairs_dir)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).distinct().collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == want and (1, 4) in got  # cross-batch dup discovered


def test_decontaminate_exact_flags_verbatim_needles(spark):
    from blockchain_indexer_spark.operators.dedup import decontaminate_exact

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox appears"),          # contains needle A
            (3, "nothing to see here"),
            (4, None),                                  # NULL text matches nothing
            (5, "lazy dog and quick brown fox both"),   # contains A and B
        ],
        "doc_id long, text string",
    )
    needles = spark.createDataFrame(
        [("quick brown fox",), ("lazy dog",), (None,)], "needle string"
    )
    got = {r["doc_id"]: r for r in decontaminate_exact(corpus, needles).collect()}
    assert {i: got[i]["n_matched_needles"] for i in range(1, 6)} == {
        1: 2, 2: 1, 3: 0, 4: 0, 5: 2
    }
    assert {i for i in got if got[i]["is_contaminated"]} == {1, 2, 5}


def test_decontaminate_exact_empty_needles(spark):
    from blockchain_indexer_spark.operators.dedup import decontaminate_exact

    corpus = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
    needles = spark.createDataFrame([], "needle string")
    rows = decontaminate_exact(corpus, needles).collect()
    assert [(r["doc_id"], r["n_matched_needles"], r["is_contaminated"]) for r in rows] == [
        (1, 0, False)
    ]


def test_decontaminate_exact_string_ids_and_empty_needle(spark):
    """String/UUID doc ids must survive (the id column keeps its input
    type, ADVICE r3 — previously hard-cast to int64), and a zero-length
    needle is dropped like NULL: it would match every text under SQL
    position() semantics but nothing in the automaton."""
    from blockchain_indexer_spark.operators.dedup import decontaminate_exact

    corpus = spark.createDataFrame(
        [("u-1", "alpha beta"), ("u-2", "gamma"), ("u-3", None)],
        "doc_id string, text string",
    )
    needles = spark.createDataFrame([("beta",), ("",), (None,)], "needle string")
    out = decontaminate_exact(corpus, needles)
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {r["doc_id"]: r["n_matched_needles"] for r in out.collect()}
    assert got == {"u-1": 1, "u-2": 0, "u-3": 0}


def test_decontaminate_exact_overlapping_needles_counted_distinctly(spark):
    """'aba' in 'ababa' twice, 'ab' inside it, 'ba' too: the flag
    counts DISTINCT needles matched, and overlapping occurrences must
    not confuse the automaton's fail links."""
    from blockchain_indexer_spark.operators.dedup import decontaminate_exact

    corpus = spark.createDataFrame([(1, "ababa"), (2, "bbb")], "doc_id long, text string")
    needles = spark.createDataFrame([("aba",), ("ab",), ("ba",), ("bbb",)], "needle string")
    got = {r["doc_id"]: r["n_matched_needles"] for r in decontaminate_exact(corpus, needles).collect()}
    assert got == {1: 3, 2: 1}


def test_edit_distance_join_exact_vs_naive(spark):
    """Deletion-neighborhood join equals the naive cross-join filter on
    an adversarial mini-corpus: substitutions/insertions/deletions at
    distance 1 match; transpositions ('ab'/'ba' share deletion variants
    but are distance 2) must be verified away; empty strings and NULLs
    behave."""
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.fuzzy import edit_distance_join

    names = ["abc", "abd", "ab", "ba", "abcd", "", "a", "xyz", None, "abc"]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    a = df.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    b = df.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_join(a, b, "name_a", "name_b").collect()
        if r["id_a"] < r["id_b"]
    )
    import itertools

    def lev(x, y):
        if x is None or y is None:
            return 99
        d = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            prev, d[0] = d[0], i
            for j, cy in enumerate(y, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (cx != cy))
        return d[len(y)]

    want = sorted(
        (i, j, lev(names[i], names[j]))
        for i, j in itertools.combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 1
    )
    assert got == want
    assert (3, 9) not in {(x, y) for x, y, _ in got}  # 'ba' vs 'abc'


def test_edit_distance_join_rejects_unsupported_bound(spark):
    from blockchain_indexer_spark.operators.fuzzy import edit_distance_join

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    with pytest.raises(NotImplementedError):
        edit_distance_join(df, df, "name", "name", max_dist=2)


def test_cross_repeat_spans_flags_shared_windows(spark):
    from blockchain_indexer_spark.operators.dedup import cross_repeat_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    docs = [
        (1, shared + " one two three"),
        (2, "prefix words here " + shared),
        (3, "totally different content with many unique tokens inside it"),
        (4, "short doc"),  # < k tokens -> no windows
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in cross_repeat_spans(df, "doc_id", "text", k=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # the shared 8-token span is exactly one window in each of docs 1-2
    assert out[1]["n_repeated"] == 1 and out[2]["n_repeated"] == 1
    assert out[1]["n_windows"] == 4  # 11 tokens -> 4 windows
    assert out[3]["n_repeated"] == 0 and out[3]["n_windows"] == 2  # 9 tokens
    assert out[4] ["n_windows"] == 0 and out[4]["repeat_frac"] == 0.0
    assert out[5]["n_windows"] == 0 and out[5]["repeat_frac"] == 0.0
    assert out[1]["repeat_frac"] == 1.0 / 4


def test_cross_repeat_spans_within_doc_repeat_not_cross(spark):
    from blockchain_indexer_spark.operators.dedup import cross_repeat_spans

    # a window repeated twice WITHIN one doc but in no other doc is not
    # cross-repeated (distinct doc count is 1)
    span = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, span + " " + span), (2, "i j k l m n o p q r")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in cross_repeat_spans(df, "doc_id", "text", k=8).collect()}
    assert out[1]["n_repeated"] == 0
    # 16 tokens -> 9 sliding windows, but window at offset 0 == offset 8
    # (distinct-window count collapses the duplicate)
    assert out[1]["n_windows"] == 8


def _winnow_ref(text, k=16, w=4, base=131, mod=2_147_483_647):
    import hashlib
    import re

    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ") if text else ""
    codes = [ord(c) for c in norm]
    n = len(codes) - k + 1
    if n <= 0:
        return 0, 0, None
    grams = []
    for i in range(n):
        h = 0
        for c in codes[i : i + k]:
            h = (h * base + c) % mod
        grams.append(h)
    picks = []
    n_win = max(n - w + 1, 1)
    for j in range(n_win):
        win = grams[j : j + w]
        m = min(win)
        # rightmost minimum
        pos = j + max(i for i, x in enumerate(win) if x == m)
        if not picks or picks[-1] != pos:
            picks.append(pos)
    sel = [grams[p] for p in picks]
    fp = hashlib.md5(",".join(str(x) for x in sel).encode()).hexdigest()
    return n, len(sel), fp


def test_winnow_fingerprints_matches_reference(spark):
    from blockchain_indexer_spark.operators.dedup import winnow_fingerprints

    docs = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank"),
        (2, "Pack   my\nbox with\tfive dozen liquor jugs"),
        (3, "tiny"),  # < k chars -> empty sketch
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in winnow_fingerprints(df, "doc_id", "text").collect()}
    for i, text in docs:
        n, ns, fp = _winnow_ref(text)
        assert (out[i]["n_grams"], out[i]["n_selected"], out[i]["fp_md5"]) == (n, ns, fp), i
    # density sanity: roughly 2/(w+1) of grams selected
    assert 0 < out[1]["n_selected"] < out[1]["n_grams"]


def test_winnow_guarantee_shared_substring_shares_a_hash(spark):
    from blockchain_indexer_spark.operators.dedup import winnow_fingerprints

    # any shared substring of length >= k + w - 1 (19 chars) must
    # contribute at least one common selected gram hash
    shared = "zqxjkvbnmwpltrfgds"  # 18 chars + 1 = use 25-char run
    shared = "zqxjkvbnmwpltrfgdsaeiouyh"
    df = spark.createDataFrame(
        [(1, "left context " + shared + " right side"),
         (2, "other start " + shared + " different tail")],
        "doc_id long, text string",
    )
    # re-derive the selected hash SETS via the reference and intersect
    t1 = "left context " + shared + " right side"
    t2 = "other start " + shared + " different tail"

    def sel_hashes(text, k=16, w=4):
        import re
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
        codes = [ord(c) for c in norm]
        n = len(codes) - k + 1
        grams = []
        for i in range(n):
            h = 0
            for c in codes[i : i + k]:
                h = (h * 131 + c) % 2_147_483_647
            grams.append(h)
        picks = []
        for j in range(max(n - w + 1, 1)):
            win = grams[j : j + w]
            m = min(win)
            pos = j + max(q for q, x in enumerate(win) if x == m)
            if not picks or picks[-1] != pos:
                picks.append(pos)
        return {grams[p] for p in picks}

    assert sel_hashes(t1) & sel_hashes(t2)
    # and the Spark sketch digests are deterministic across layouts
    a = {r["id"]: r["fp_md5"] for r in winnow_fingerprints(df, "doc_id", "text").collect()}
    b = {r["id"]: r["fp_md5"] for r in winnow_fingerprints(df.repartition(3), "doc_id", "text").collect()}
    assert a == b


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    from blockchain_indexer_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "one two three four five six"
    big = small + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "apple pear plum grape kiwi fig date")],
        "doc_id long, text string",
    )
    pairs = ngram_containment_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in pairs}
    assert (1, 2) in got
    r = got[(1, 2)]
    # all 4 of doc 1's 3-shingles appear in doc 2
    assert r["n_common"] == 4 and r["cont_a"] == 1.0 and r["cont_b"] < 0.15
    # jaccard at the usual 0.2 threshold does NOT flag the pair
    j = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.2).collect()
    assert all((p["doc_a"], p["doc_b"]) != (1, 2) for p in j)
    # doc 3 shares nothing
    assert all(3 not in (a, b) for (a, b) in got)


# ---------------------------------------------------------------------------
# hamming_band_pairs
# ---------------------------------------------------------------------------


def test_hamming_band_pairs_exact_small(spark):
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs

    rows = [(1, 0b0000000000000000), (2, 0b0000000000000111), (3, 0b0000000000001111)]
    df = spark.createDataFrame(rows, "id bigint, h bigint")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(df, "id", "h", 16, bands=4, max_hamming=3).collect()
    }
    # (1,2): hamming 3 -> pair; (2,3): hamming 1 -> pair; (1,3): 4 -> out
    assert got == {(1, 2): 3, (2, 3): 1}


def test_hamming_band_pairs_pigeonhole_complete(spark):
    """Blocking must find EVERY pair within max_hamming < bands —
    verified against a brute-force numpy hamming matrix."""
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs

    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 1 << 16, size=60, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), int(h)) for i, h in enumerate(hashes)], "id bigint, h bigint"
    )
    got = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(df, "id", "h", 16, bands=4, max_hamming=3).collect()
    }
    x = hashes[:, None] ^ hashes[None, :]
    ham = np.array([[bin(int(v)).count("1") for v in row] for row in x])
    want = {
        (i, j)
        for i in range(60)
        for j in range(i + 1, 60)
        if ham[i, j] <= 3
    }
    assert got == want


def test_hamming_band_pairs_rejects_bad_bands(spark):
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs

    df = spark.createDataFrame([(1, 3)], "id bigint, h bigint")
    with pytest.raises(ValueError):
        hamming_band_pairs(df, "id", "h", 16, bands=5)


# ---------------------------------------------------------------------------
# longest_repeat_ladder
# ---------------------------------------------------------------------------


def test_longest_repeat_ladder_planted_span(spark):
    from blockchain_indexer_spark.operators.dedup import longest_repeat_ladder

    shared18 = " ".join(f"s{i}" for i in range(18))
    rows = [
        (1, shared18 + " apple banana"),
        (2, "zeta " + shared18),
        (3, "completely different words " + " ".join(f"u{i}" for i in range(12))),
        (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.id: (r.longest_pow2_repeat, r.n_windows > 0)
        for r in longest_repeat_ladder(df, "doc_id", "text").collect()
    }
    # the 18-token shared span covers rung-16 windows but no rung-32
    assert got[1] == (16, True)
    assert got[2] == (16, True)
    assert got[3] == (0, True)
    assert got[4] == (0, False)  # < base tokens: no windows at all


def test_longest_repeat_ladder_matches_python_reference(spark):
    """Third implementation check: per-rung shared-window detection
    via python set intersection over a seeded random corpus with
    planted overlaps."""
    from blockchain_indexer_spark.operators.dedup import longest_repeat_ladder

    rng = np.random.default_rng(29)
    vocab = [f"w{i}" for i in range(40)]
    toks = {
        did: [str(w) for w in rng.choice(vocab, size=int(rng.integers(2, 30)))]
        for did in range(20)
    }
    toks[3] = toks[2][:12] + toks[3][:4]      # 12-token overlap
    toks[7] = list(toks[6])                   # full duplicate
    toks[11] = toks[10][-6:] + toks[11][:5]   # 6-token overlap
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in toks.items()], "doc_id long, text string"
    )
    got = sorted(
        (r.id, r.n_windows, r.n_repeated, r.longest_pow2_repeat)
        for r in longest_repeat_ladder(df, "doc_id", "text").collect()
    )
    rungs = (4, 8, 16, 32, 64)
    want = []
    for did, t in toks.items():
        per_rung_hit = {}
        wins4 = set()
        shared4 = set()
        for k in rungs:
            mine = {
                " ".join(t[i : i + k]) for i in range(len(t) - k + 1)
            } if len(t) >= k else set()
            others = set()
            for o, ot in toks.items():
                if o == did or len(ot) < k:
                    continue
                others |= {" ".join(ot[i : i + k]) for i in range(len(ot) - k + 1)}
            per_rung_hit[k] = bool(mine & others)
            if k == 4:
                wins4 = mine
                shared4 = mine & others
        longest = max((k for k in rungs if per_rung_hit[k]), default=0)
        want.append((did, len(wins4), len(shared4), longest))
    assert got == sorted(want)


def test_longest_repeat_ladder_null_and_empty_text(spark):
    from blockchain_indexer_spark.operators.dedup import longest_repeat_ladder

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c d e f g h"), (5, "a b c d e f g h")],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.n_windows, r.longest_pow2_repeat)
        for r in longest_repeat_ladder(df, "doc_id", "text").collect()
    }
    assert got[1] == (0, 0) and got[2] == (0, 0) and got[3] == (0, 0)
    assert got[4] == (5, 8) and got[5] == (5, 8)  # full 8-token dup


# ---------------------------------------------------------------------------
# split_leakage
# ---------------------------------------------------------------------------


def test_split_leakage_planted(spark):
    from blockchain_indexer_spark.operators.dedup import split_leakage

    span = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "train", span + " extra tail words"),
        (2, "val", "prefix " + span),                     # leaked via span
        (3, "val", " ".join(f"u{i}" for i in range(12))), # clean
        (4, "test", "tiny doc"),                          # < k tokens: clean
        (5, "test", span),                                # leaked, fully
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    got = {
        r.id: (r.split, r.n_windows, r.n_leaked, r.leaked)
        for r in split_leakage(df, "doc_id", "text", "split", k=8).collect()
    }
    assert set(got) == {2, 3, 4, 5}  # train rows are not reported
    assert got[2] == ("val", 4, 3, True)   # 11 tokens -> 4 windows; 3 inside span
    assert got[3] == ("val", 5, 0, False)
    assert got[4] == ("test", 0, 0, False)
    assert got[5] == ("test", 3, 3, True)


def test_split_leakage_matches_python_reference(spark):
    """Third implementation check: set-intersection leakage in plain
    python over a seeded random corpus with planted contamination."""
    from blockchain_indexer_spark.operators.dedup import split_leakage

    rng = np.random.default_rng(41)
    vocab = [f"w{i}" for i in range(30)]
    toks = {
        did: [str(w) for w in rng.choice(vocab, size=int(rng.integers(3, 25)))]
        for did in range(30)
    }
    split = {did: ("train" if did % 5 else ("val" if did % 10 else "test")) for did in range(30)}
    toks[10] = toks[1][:9] + toks[10][:3]  # val doc contaminated from train doc 1
    df = spark.createDataFrame(
        [(d, split[d], " ".join(t)) for d, t in toks.items()],
        "doc_id long, split string, text string",
    )
    got = sorted(
        (r.id, r.split, r.n_windows, r.n_leaked, r.leaked)
        for r in split_leakage(df, "doc_id", "text", "split", k=8).collect()
    )
    k = 8
    train_wins = set()
    for d, t in toks.items():
        if split[d] == "train" and len(t) >= k:
            train_wins |= {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}
    want = []
    for d, t in toks.items():
        if split[d] == "train":
            continue
        mine = {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)} if len(t) >= k else set()
        leaked = len(mine & train_wins)
        want.append((d, split[d], len(mine), leaked, leaked > 0))
    assert got == sorted(want)




def _md5_minhash(shingles, num_hashes=64):
    import hashlib

    sig = []
    for seed in range(num_hashes):
        sig.append(
            min(
                int(
                    hashlib.md5(f"{s}:{seed}".encode()).hexdigest()[:15], 16
                )
                for s in shingles
            )
        )
    return sig


def _shingles(text, k=3):
    t = [x for x in text.strip().lower().split() if x]
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


UNION_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again today now"),  # superset of 1
    (3, "the quick brown fox jumps over a sleepy dog again and again"),  # near-dup of 1
    (4, "completely unrelated text about spark physical plans and shuffles here"),
]


def test_minhash_merge_law_and_superset_estimator(spark):
    """Min-stability: the element-wise min of two signatures must
    EQUAL the md5_60 signature of the shingle-set union — and when
    one side's shingles are a superset of the other's, that side's
    union-containment estimator is exactly 1.0 (every component
    survives the merge)."""
    from blockchain_indexer_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(UNION_ROWS, "doc_id long, text string")
    sigs = {
        r["_id"]: list(r["signature"])
        for r in minhash_signatures(
            docs, "doc_id", "text", k=3, hash_fn="md5_60"
        ).collect()
    }
    sh1, sh2 = _shingles(UNION_ROWS[0][1]), _shingles(UNION_ROWS[1][1])
    assert sh1 < sh2  # genuinely a strict superset
    # operator signatures match the independent python md5 chain
    assert sigs[1] == _md5_minhash(sh1) and sigs[2] == _md5_minhash(sh2)
    # merge law: min(sig1, sig2) == signature of the union
    merged = [min(a, b) for a, b in zip(sigs[1], sigs[2])]
    assert merged == _md5_minhash(sh1 | sh2)
    # superset side: sig2 == merged componentwise -> estimator 1.0
