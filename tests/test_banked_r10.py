"""BANKED gates (plans/banked_r10.py): full Spark-vs-DuckDB parity
through the exact same compare() the registered gates use, plus unit
tests and independent implementations for the new operators — so
registering one is a mechanical @register move, not new code.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.plans import REGISTRY
from blockchain_indexer_spark.plans.banked_r10 import BANKED
from tools.check_correctness import compare, duck_con


def test_banked_not_registered():
    # the whole point of banking: REGISTRY must not see these until
    # one is registered
    assert not set(BANKED) & set(REGISTRY)
    assert set(BANKED) == {
        "doc_split_leakage_incremental",
        "embedding_opq_distortion",
        "embedding_opq_recall",
        "minhash_union_calibration",
        "doc_retrieval_eval",
        "simhash_incremental_md5",
    }


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", sorted(BANKED))
def test_banked_oracle_parity(spark, sf_dir, con, name):
    q = BANKED[name]
    spark_pdf = q.build(spark, sf_dir).toPandas()
    assert len(spark_pdf) > 0, f"{name}: empty result proves nothing"
    duck_pdf = con.sql(q.oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


# ---------------------------------------------------------------------------
# split_leakage_index_update / split_leakage_finalize
# ---------------------------------------------------------------------------

LEAK_SCHEMA = "doc_id long, text string, split string"

#: Planted corpus: eval doc 2 leaks from train doc 1 (same batch 0 at
#: two-way %-batching), eval doc 5 leaks RETROACTIVELY from train doc
#: 7 (arriving two batches later), eval doc 8 is clean, doc 9 is
#: sub-window short, doc 10 has NULL text.
LEAK_ROWS = [
    (1, "a b c d e f g h tail one", "train"),
    (2, "x a b c d e f g h", "val"),  # window 'a..h' leaked from doc 1
    (5, "p q r s t u v w extra", "test"),  # leaked by doc 7 (later batch)
    (7, "p q r s t u v w", "train"),
    (8, "one two three four five six seven eight", "val"),  # clean
    (9, "too short", "test"),  # < 8 tokens: zero windows, clean
    (10, None, "val"),
    (11, "m n o p q r s t filler filler2", "train"),
]


def _run_incremental(spark, docs, batch_of, n_batches, k=8):
    from blockchain_indexer_spark.operators.dedup import (
        split_leakage_finalize,
        split_leakage_index_update,
    )

    state = None
    leak_parts = []
    per_batch = []
    for b in range(n_batches):
        batch = docs.filter(batch_of(F.col("doc_id")) == b)
        tr, ev, lk = split_leakage_index_update(
            state, batch, "doc_id", "text", "split", k=k
        )
        leak_parts.append(lk)
        per_batch.append(lk)
        state = (
            (tr, ev)
            if state is None
            else (state[0].unionByName(tr), state[1].unionByName(ev))
        )
    leaks = leak_parts[0]
    for lk in leak_parts[1:]:
        leaks = leaks.unionByName(lk)
    out = split_leakage_finalize(docs, state[1], leaks, "doc_id", "split")
    return out, per_batch


def _verdicts(df):
    return {
        r["id"]: (r["split"], r["n_windows"], r["n_leaked"], r["leaked"])
        for r in df.collect()
    }


def test_split_leakage_incremental_equals_batch(spark):
    """Union-equivalence: any batch partition of the corpus must fold
    to exactly the one-shot split_leakage verdict."""
    from blockchain_indexer_spark.operators.dedup import split_leakage

    docs = spark.createDataFrame(LEAK_ROWS, LEAK_SCHEMA)
    want = _verdicts(split_leakage(docs, "doc_id", "text", "split", k=8))
    for n in (2, 3, 4):
        got, _ = _run_incremental(spark, docs, lambda c, n=n: F.pmod(c, F.lit(n)), n)
        assert _verdicts(got) == want, f"{n}-way batching diverged"
    assert want[2][3] and want[5][3]  # both planted leaks present
    assert not want[8][3] and want[9] == ("test", 0, 0, False)


def test_split_leakage_retroactive_event_emitted_at_train_arrival(spark):
    """Eval doc 5 arrives in batch 0 (5 % 4 == 1 -> use %4 so doc 7
    lands in batch 3): its leak event must appear only when train doc
    7 arrives — the old-eval x new-train probe, the half a
    one-directional scan misses."""
    docs = spark.createDataFrame(LEAK_ROWS, LEAK_SCHEMA)
    got, per_batch = _run_incremental(
        spark, docs, lambda c: F.pmod(c, F.lit(4)), 4
    )
    events = [sorted(r["id"] for r in lk.collect()) for lk in per_batch]
    # doc 5 arrives in batch 1 (5 % 4), doc 7 in batch 3: no event for
    # doc 5 before batch 3, exactly one at batch 3
    assert 5 not in set(events[0] + events[1] + events[2])
    assert 5 in events[3]
    assert _verdicts(got)[5][3] is True


def test_split_leakage_incremental_streaming_foreachbatch(
    spark, tmp_path_factory
):
    """The deployment shape: a parquet file stream drained one file
    per trigger through foreachBatch, each batch appending its index
    and leak increments to persisted parquet dirs — the final verdict
    read back from the dirs must equal the batch twin."""
    from blockchain_indexer_spark.operators.dedup import (
        split_leakage,
        split_leakage_finalize,
        split_leakage_index_update,
    )

    root = str(tmp_path_factory.mktemp("sleak"))
    feed = os.path.join(root, "feed")
    ckpt = os.path.join(root, "ckpt")
    tr_dir = os.path.join(root, "train_idx")
    ev_dir = os.path.join(root, "eval_idx")
    lk_dir = os.path.join(root, "leaks")
    os.makedirs(feed)
    docs = spark.createDataFrame(LEAK_ROWS, LEAK_SCHEMA)
    # three arrival files appended flat into ONE stream dir (one part
    # file each via repartition(1)); maxFilesPerTrigger=1 then drains
    # them as separate micro-batches. Ingestion order is whatever the
    # source lists — union-equivalence must hold under ANY batching,
    # which is exactly what this asserts.
    for b in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b).repartition(
            1
        ).write.mode("append").parquet(feed)

    def sink(batch_df, epoch_id):
        have_state = os.path.isdir(os.path.join(tr_dir))
        state = (
            (spark.read.parquet(tr_dir), spark.read.parquet(ev_dir))
            if have_state
            else None
        )
        tr, ev, lk = split_leakage_index_update(
            state, batch_df, "doc_id", "text", "split", k=8
        )
        # materialize increments BEFORE appending (they read the
        # state dirs being appended to)
        tr, ev, lk = (
            tr.localCheckpoint(eager=True),
            ev.localCheckpoint(eager=True),
            lk.localCheckpoint(eager=True),
        )
        tr.write.mode("append").parquet(tr_dir)
        ev.write.mode("append").parquet(ev_dir)
        lk.write.mode("append").parquet(lk_dir)

    stream = (
        spark.readStream.schema(LEAK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = split_leakage_finalize(
        docs,
        spark.read.parquet(ev_dir),
        spark.read.parquet(lk_dir),
        "doc_id",
        "split",
    )
    want = split_leakage(docs, "doc_id", "text", "split", k=8)
    assert _verdicts(got) == _verdicts(want)


# ---------------------------------------------------------------------------
# opq_rotate / embedding_opq_distortion
# ---------------------------------------------------------------------------


def _hd_matrix(dim):
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import _hd_signs

    h = np.array(
        [[1 - 2 * (bin(a & b).count("1") % 2) for b in range(dim)] for a in range(dim)],
        dtype=np.int64,
    )
    return h * np.array(_hd_signs(dim), dtype=np.int64)[None, :]


def test_opq_rotate_matches_reference_and_is_isometric(spark):
    """Independent recomputation: the operator output must equal a
    plain numpy H*D matmul of the quantized vectors, and rotated
    pairwise squared L2 must be EXACTLY dim x the original (R*R^T =
    dim*I) — the property that makes the rotation ranking-safe."""
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import opq_rotate

    rng = np.random.default_rng(7)
    dim = 16
    vecs = rng.normal(0, 1, (6, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: np.array(r.embedding)
        for r in opq_rotate(emb, dim=dim, scale=1000).collect()
    }
    rot = _hd_matrix(dim)
    q = np.floor(np.abs(vecs) * 1000 + 0.5).astype(np.int64) * np.sign(vecs).astype(
        np.int64
    )  # HALF AWAY FROM ZERO, the quantize() contract
    for i in range(len(vecs)):
        assert np.array_equal(got[i], rot @ q[i]), i
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            d0 = int(((q[a] - q[b]) ** 2).sum())
            d1 = int(((got[a] - got[b]) ** 2).sum())
            assert d1 == dim * d0, (a, b)


def test_opq_rotate_wins_on_anisotropic_corpus(spark):
    """The point of the pre-step: on a corpus with exponentially
    decaying per-dimension variance (the classic PCA-ordered embedding
    shape OPQ targets — leading subspaces hog the energy), the HD
    rotation spreads it and total distortion drops by ~5% after
    removing the exact dim factor. (Energy planted EXACTLY in dims
    0..3 is a measured tie, not a win: the Hadamard block structure
    maps it to sixteen identical per-subspace problems, 64x by
    construction — the decay shape is the honest test.)"""
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import (
        opq_rotate,
        pq_distortion,
    )

    rng = np.random.default_rng(11)
    dim = 64
    vecs = rng.normal(0, 1, (200, dim)) * (
        2.0 ** (-np.arange(dim) / 8)
    )[None, :]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plain = sum(
        r.total_sq_error
        for r in pq_distortion(emb, m=16, n_codes=32).collect()
    )
    rotated = sum(
        r.total_sq_error
        for r in pq_distortion(
            opq_rotate(emb, dim=dim, scale=1000), m=16, n_codes=32, scale=1
        ).collect()
    )
    assert rotated / dim < 0.98 * plain, (rotated / dim, plain)


def test_opq_rotate_null_passthrough_and_validation(spark):
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import opq_rotate

    emb = spark.createDataFrame(
        [(0, [1.0] * 16), (1, None)], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.embedding for r in opq_rotate(emb, dim=16).collect()}
    assert got[1] is None and got[0] is not None
    with pytest.raises(ValueError, match="power of two"):
        opq_rotate(emb, dim=12)
    import py4j

    bad = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        opq_rotate(bad, dim=16).collect()


# ---------------------------------------------------------------------------
# minhash_union_calibration
# ---------------------------------------------------------------------------


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
    assert merged == sigs[2]


def test_minhash_union_calibration_matches_python_reference(spark):
    """Independent recomputation of the whole gate on the planted
    corpus: candidates (all three similar docs band-collide), per-side
    min-survival estimates, exact containments, buckets."""
    import hashlib

    from blockchain_indexer_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_union_calibration,
    )

    docs = spark.createDataFrame(UNION_ROWS, "doc_id long, text string")
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            docs, "doc_id", "text", k=3, hash_fn="md5_60"
        ).select("doc_a", "doc_b").collect()
    }
    assert (1, 2) in cand  # the superset pair must candidate
    sh = {i: _shingles(t) for i, t in UNION_ROWS}
    sigs = {i: _md5_minhash(s) for i, s in sh.items()}
    import collections

    buckets = collections.defaultdict(lambda: [0, 0, 0])  # n, sum_m, sum_tn
    import math

    for a, b in cand:
        u = len(sh[a] | sh[b])
        for side, other in ((a, b), (b, a)):
            m = sum(
                1 for x, y in zip(sigs[side], sigs[other]) if x <= y
            )
            tn = math.floor(1e9 * len(sh[side]) / u)
            bk = (m * 8) // 64
            buckets[bk][0] += 1
            buckets[bk][1] += m
            buckets[bk][2] += tn
    want = {
        bk: (n, sm / (n * 64), stn / (n * 1e9))
        for bk, (n, sm, stn) in buckets.items()
    }
    got = {
        r["bucket"]: (r["n_pairs"], r["mean_est"], r["mean_true"])
        for r in minhash_union_calibration(
            docs, "doc_id", "text", k=3, hash_fn="md5_60"
        ).collect()
    }
    assert got == want
    # the superset pair's superset side lands in the top bucket at
    # estimate exactly 1.0 -> bucket 8 exists
    assert 8 in got


@pytest.mark.slowe2e
def test_opq_recall_stats_recompute(spark, sf_dir):
    """Independent recomputation: the one-row recall stats must equal
    a plain pandas join of the exact frame with each PQ variant — and
    the exact frame genuinely serves both variants (isometry: the
    rotated exact top-5 IS the plain exact top-5)."""
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        opq_rotate,
        pq_topk,
    )
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    ex = brute_force_topk(
        emb, q, "vec_id", "embedding", k=5, metric="quantized_neg_l2"
    ).toPandas()
    rot = opq_rotate(emb, "vec_id", "embedding")
    ex_rot = brute_force_topk(
        rot, rot.filter(F.col("vec_id") % 50 == 0), "vec_id", "embedding",
        k=5, metric="quantized_neg_l2", scale=1,
    ).toPandas()
    keyed = lambda df: sorted(  # noqa: E731
        map(tuple, df[["query_id", "rank", "neighbor_id"]].itertuples(index=False))
    )
    assert keyed(ex) == keyed(ex_rot)  # isometry, end to end
    pq_p = pq_topk(
        emb, q, "vec_id", "embedding", k=5, m=16, n_codes=32, rerank=50
    ).toPandas()
    pq_r = pq_topk(
        rot, rot.filter(F.col("vec_id") % 50 == 0), "vec_id", "embedding",
        k=5, m=16, n_codes=32, rerank=50, scale=1,
    ).toPandas()
    on = ["query_id", "neighbor_id"]
    want = {
        "n_queries": ex["query_id"].nunique(),
        "n_exact": len(ex),
        "n_pq_plain": len(pq_p),
        "n_pq_rot": len(pq_r),
        "n_common_plain": len(ex.merge(pq_p[on], on=on)),
        "n_common_rot": len(ex.merge(pq_r[on], on=on)),
    }
    got = BANKED["embedding_opq_recall"].build(spark, sf_dir).collect()[0]
    for k_, v in want.items():
        assert got[k_] == v, (k_, got[k_], v)
    assert got["recall_plain_nano"] == int(
        np.floor(1e9 * want["n_common_plain"] / want["n_exact"])
    )
    assert got["recall_rot_nano"] == int(
        np.floor(1e9 * want["n_common_rot"] / want["n_exact"])
    )


# ---------------------------------------------------------------------------
# retrieval_eval
# ---------------------------------------------------------------------------


def test_retrieval_eval_hand_built(spark):
    """Planted run/qrels covering every metric branch: perfect query,
    partial query, first-relevant-at-rank-3, dropped query (in qrels,
    absent from run -> zero-valued row, not a missing row), and a
    short run (n_ret < k)."""
    import math

    from blockchain_indexer_spark.operators.textprep import retrieval_eval

    run = spark.createDataFrame(
        [
            # q1: rel docs 10,11 at ranks 1,2 of a full run
            (1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 5),
            # q2: first relevant at rank 3, one hit, short run
            (2, 20, 1), (2, 21, 2), (2, 22, 3),
            # q3 in qrels but NOT in the run (engine dropped it)
            # q4: run exists but nothing relevant retrieved
            (4, 40, 1), (4, 41, 2),
        ],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 22), (2, 99), (3, 30), (4, 99)],
        "query_id long, doc_id long",
    )
    got = {
        r["query_id"]: (
            r["n_rel"], r["n_ret"], r["n_hit"],
            r["p_at_k_nano"], r["r_at_k_nano"], r["rr_nano"],
        )
        for r in retrieval_eval(run, qrels, k=5).collect()
    }
    nano = lambda x: math.floor(1e9 * x)  # noqa: E731
    assert got[1] == (2, 5, 2, nano(2 / 5), nano(1.0), nano(1.0))
    assert got[2] == (2, 3, 1, nano(1 / 5), nano(1 / 2), nano(1 / 3))
    assert got[3] == (1, 0, 0, 0, 0, 0)  # dropped query reports a miss
    assert got[4] == (1, 2, 0, 0, 0, 0)
    # ranks beyond k are excluded
    run6 = run.unionByName(
        spark.createDataFrame([(4, 99, 6)], "query_id long, doc_id long, rank long")
    )
    got6 = {
        r["query_id"]: r["n_hit"]
        for r in retrieval_eval(run6, qrels, k=5).collect()
    }
    assert got6[4] == 0
    with pytest.raises(ValueError, match="k must be"):
        retrieval_eval(run, qrels, k=0)


def test_retrieval_eval_qrels_self_hit(spark, sf_dir):
    """On the harness corpus every query doc is relevant to itself
    (it carries all 4 of its own terms), and BM25 retrieves it — so
    no query may report rr_nano == 0, and the per-query rows must be
    internally consistent (n_hit <= min(n_ret, n_rel))."""
    got = BANKED["doc_retrieval_eval"].build(spark, sf_dir).collect()
    assert got  # sf0.001 has % 83 == 0 docs with >= 4 tokens
    for r in got:
        assert r["n_hit"] <= min(r["n_ret"], r["n_rel"])
        assert r["rr_nano"] > 0, r  # self-doc found
        assert 0 <= r["p_at_k_nano"] <= 10**9


# ---------------------------------------------------------------------------
# hamming_index_update / simhash_index_update
# ---------------------------------------------------------------------------


@pytest.mark.slowe2e
def test_simhash_incremental_equals_full(spark):
    """Union-equivalence for the banded hamming engine: any batch
    partition must accumulate to exactly the one-shot
    simhash_candidates pair set, with cross-batch pairs discovered at
    the later arrival."""
    from blockchain_indexer_spark.operators.dedup import (
        simhash_candidates,
        simhash_index_update,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, "one two three four five six"),
        (4, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (5, "one two three four five seven"),        # near-dup of 3
        (6, "completely different content in this document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_candidates(docs, "doc_id", "text").collect()
    }
    assert any(a == 1 and b == 4 and h == 0 for a, b, h in want)  # exact dup
    for n in (2, 3, 4):
        index, parts = None, []
        for b in range(n):
            batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(n)) == b)
            nr, np_ = simhash_index_update(index, batch, "doc_id", "text")
            parts.append(np_)
            index = nr if index is None else index.unionByName(nr)
        got = set()
        for p in parts:
            got |= {
                (r["id_a"], r["id_b"], r["hamming"]) for r in p.collect()
            }
        assert got == want, f"{n}-way batching diverged"


def test_hamming_index_update_generic_and_validated(spark):
    """The generic engine: planted 16-bit hashes (the image/audio/
    video modality shape) maintain incrementally; whichever batch
    brings a true pair's second id emits it exactly once. bands must
    divide n_bits."""
    from blockchain_indexer_spark.operators.dedup import (
        hamming_band_pairs,
        hamming_index_update,
    )

    rows = [
        (1, 0b1111000011110000),
        (2, 0b1111000011110001),  # hamming 1 from id 1
        (3, 0b0000111100001111),
        (4, 0b0000111100001011),  # hamming 1 from id 3
        (5, 0b1010101010101010),
    ]
    hashes = spark.createDataFrame(rows, "hid long, h long")
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_band_pairs(hashes, "hid", "h", 16, bands=4, max_hamming=2).collect()
    }
    assert {(1, 2, 1), (3, 4, 1)} <= want
    index = None
    got = set()
    batch_events = []
    for b in range(2):
        batch = hashes.filter(F.pmod(F.col("hid"), F.lit(2)) == b)
        nr, np_ = hamming_index_update(index, batch, "hid", "h", 16, bands=4, max_hamming=2)
        evts = {(r["id_a"], r["id_b"], r["hamming"]) for r in np_.collect()}
        batch_events.append(evts)
        got |= evts
        index = nr if index is None else index.unionByName(nr)
    assert got == want
    # ids 1 (batch 1) and 2 (batch 0): the pair appears only when the
    # SECOND side arrives (batch 1), via the new x index probe
    assert (1, 2, 1) not in batch_events[0] and (1, 2, 1) in batch_events[1]
    with pytest.raises(ValueError, match="must divide"):
        hamming_index_update(None, hashes, "hid", "h", 16, bands=5)
