"""Similarity-search operators: exact baseline sanity + LSH recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from blockchain_indexer_spark.plans import REGISTRY
from blockchain_indexer_spark.sources.parquet import load_table


def test_brute_force_topk_shape_and_self_exclusion(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = brute_force_topk(emb, queries, k=3).toPandas()
    n_queries = queries.count()
    assert len(out) == n_queries * 3
    assert (out["query_id"] != out["neighbor_id"]).all()
    assert set(out["rank"]) == {1, 2, 3}


def test_all_pairs_topk_cosine_equals_expression_scan(spark, sf_dir, monkeypatch):
    """The matmul top-k must equal brute_force_topk's quantized-cosine
    expression scan row for row, score bits included, for the self-join
    and for a strided probe frame, in both regimes: the corpus-shipped
    scan and, with the gate forced to zero bytes, the replicated block
    join. Every vector has two exact copies under other ids, so each
    query's score ties come in threes and straddle slice and block
    boundaries (and, at k=4, the rank cut); an all-zero corpus gives an
    empty frame from both scans."""
    from blockchain_indexer_spark.operators import similarity
    from blockchain_indexer_spark.operators.similarity import all_pairs_topk_cosine

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(60)
    emb = base.unionByName(
        base.withColumn("vec_id", F.col("vec_id") + 100_000)
    ).unionByName(base.withColumn("vec_id", F.col("vec_id") + 200_000))

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in df.collect()
        )

    zeros = emb.withColumn("embedding", F.transform("embedding", lambda x: x * 0))
    assert rows(brute_force_topk(zeros, zeros, k=4, metric="quantized_cosine")) == []
    shipped_gate = similarity._BROADCAST_BYTES
    for queries in (None, emb.filter(F.col("vec_id") % 7 == 0)):
        want = rows(
            brute_force_topk(emb, emb if queries is None else queries, k=4,
                             metric="quantized_cosine")
        )
        assert want
        for gate in (shipped_gate, 0):
            monkeypatch.setattr(similarity, "_BROADCAST_BYTES", gate)
            assert rows(all_pairs_topk_cosine(emb, k=4, queries=queries)) == want, gate
            assert rows(all_pairs_topk_cosine(zeros, k=4, queries=queries)) == []


def test_exact_scans_reject_ragged_vector_widths(spark, monkeypatch):
    """A corpus with 3- and 2-wide vectors fails on the driver with a
    ValueError naming both widths, in both regimes, instead of inside
    every worker's matmul."""
    from blockchain_indexer_spark.operators import similarity
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.operators.similarity import all_pairs_topk_cosine

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0, 1.0]), (4, None)],
        "vec_id long, embedding array<float>",
    )
    for gate in (similarity._BROADCAST_BYTES, 0):
        monkeypatch.setattr(similarity, "_BROADCAST_BYTES", gate)
        with pytest.raises(ValueError, match="width: 2 and 3"):
            cosine_near_dup_pairs(emb)
        with pytest.raises(ValueError, match="width: 2 and 3"):
            all_pairs_topk_cosine(emb, k=1)
        with pytest.raises(ValueError, match="width: 2 and 3"):
            all_pairs_topk_cosine(emb.filter("vec_id < 3"), k=1, queries=emb)


def test_exact_cosine_float64_kernel_is_int64_exact():
    """_exact_cosine runs its matmul in float64 (BLAS) only while
    d·max|x|² < 2^53, and must equal the int64 arithmetic bit for bit
    on either side of that bound. Far outside it a float64 matmul
    rounds a product and gets the dot wrong, so there the int64
    fallback is what keeps the result exact."""
    from math import isqrt

    from blockchain_indexer_spark.operators.similarity import _exact_cosine

    def int64_reference(qm, cm):
        dots = (qm @ cm.T).astype(np.float64)
        nq = (qm * qm).sum(axis=1).astype(np.float64)
        nc = (cm * cm).sum(axis=1).astype(np.float64)
        return dots / np.sqrt(nq[:, None] * nc[None, :])

    rng = np.random.default_rng(7)
    d = 64
    inside = isqrt((2**53 - 1) // d)  # the largest max|x| with d·max|x|² < 2^53
    for top in (inside, inside + 1):
        m = rng.integers(-top, top + 1, size=(40, d), dtype=np.int64)
        m[0, 0], m[1, 1] = top, -top
        assert (d * top * top < 2**53) == (top == inside)
        got, want = _exact_cosine(m[:15], m), int64_reference(m[:15], m)
        assert got.tobytes() == want.tobytes(), top

    big = 2**30 + 1  # big² rounds in float64
    qm = np.array([[big, big + 1, 1]], dtype=np.int64)
    cm = np.array([[big, -(big - 1), 1]], dtype=np.int64)  # exact dot: 2
    want = int64_reference(qm, cm)
    assert want.tobytes() != int64_reference(qm * 1.0, cm * 1.0).tobytes()
    assert _exact_cosine(qm, cm).tobytes() == want.tobytes()


def test_collect_rows_is_cosine_rows_on_the_driver(spark):
    """The shipped scan quantizes on the driver (_collect_rows); it must
    give the matrix Spark's quantize gives (_cosine_rows), half-way
    values and 0.5 - 2^-54 included, and drop the same NULL,
    NULL-element and zero-norm rows. NaN raises, as Spark's bigint cast
    does."""
    from blockchain_indexer_spark.operators.similarity import _collect_rows, _cosine_rows

    edge = [0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 2.5, -2.5, 0.0625]
    emb = spark.createDataFrame(
        [
            (5, edge),
            (1, [x * 1000 for x in edge[::-1]]),
            (3, [0.0] * 7),
            (4, None),
            (2, [1.0, None, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (7, [0.0625, 0.0, 0.0, 0.0, 0.0, 0.0, -0.0005]),
        ],
        "vec_id long, embedding array<double>",
    )
    for scale in (1, 1000):
        want = sorted((r["_id"], r["_v"]) for r in _cosine_rows(emb, "vec_id", "embedding", scale).collect())
        ids, m = _collect_rows(emb, "vec_id", "embedding", scale, 7)
        assert list(zip(ids.tolist(), m.tolist())) == want
    nan = spark.createDataFrame([(1, [float("nan"), 1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="quantize"):
        _collect_rows(nan, "vec_id", "embedding", 1000, 2)


def test_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    approx = lsh_topk(emb, queries, k=5).toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"LSH recall {recall} too low"


def test_ivf_recall_vs_exact_and_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    approx = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3).toPandas()
    assert (approx["query_id"] != approx["neighbor_id"]).all()
    assert approx.groupby("query_id")["rank"].max().le(5).all()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"IVF recall {recall} too low"
    # centroid training is sample-based and RNG-free — rebuild must
    # produce identical results
    again = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3).toPandas()
    a = approx.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_lsh_near_dup_pairs_precision_and_recall(spark):
    """The banded pair path must be a strict subset of the exact
    all-pairs baseline with identical scores (precision 1), and catch
    nearly every STRONG near-dup — the hyperplane collision law gives
    P[share a band] ≈ 95% at cosine 0.9 for the 16-plane/4-band
    defaults, decaying toward the 0.3 threshold boundary."""
    from blockchain_indexer_spark.operators.dedup import cosine_near_dup_pairs
    from blockchain_indexer_spark.operators.similarity import lsh_near_dup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in lsh_near_dup_pairs(emb, "vec_id", "embedding", dim=64, threshold=0.3).collect()
    }
    assert lsh, "no candidate pairs survived"
    # precision 1: every LSH pair is an exact pair with the same score
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    # recall on strong pairs
    strong = {k for k, c in exact.items() if c >= 0.8}
    if strong:
        caught = len(strong & set(lsh)) / len(strong)
        assert caught >= 0.8, f"strong-pair recall {caught:.2f}"


def test_pq_recall_vs_exact_l2_and_determinism(spark, sf_dir):
    from blockchain_indexer_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5, metric="quantized_neg_l2").toPandas()
    approx = pq_topk(emb, queries, k=5, m=16, n_codes=32, rerank=50).toPandas()
    assert (approx["query_id"] != approx["neighbor_id"]).all()
    assert approx.groupby("query_id")["rank"].max().le(5).all()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.6, f"PQ recall {recall} too low"
    # data-seeded codebook is RNG-free: rebuild must be identical
    again = pq_topk(emb, queries, k=5, m=16, n_codes=32, rerank=50).toPandas()
    a = approx.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_ivfpq_recall_and_determinism(spark, sf_dir):
    from blockchain_indexer_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5, metric="quantized_neg_l2").toPandas()
    approx = ivf_pq_topk(emb, queries, k=5, n_probe=6, rerank=50).toPandas()
    assert (approx["query_id"] != approx["neighbor_id"]).all()
    assert approx.groupby("query_id")["rank"].max().le(5).all()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # IVF pruning caps recall below plain PQ (6/16 cells probed) —
    # on this near-uniform synthetic corpus the coarse cells carry
    # little signal, so the floor is deliberately modest
    assert recall >= 0.35, f"IVF-PQ recall {recall} too low"
    # fully data-seeded (coarse centroids + residual codebook): no RNG
    again = ivf_pq_topk(emb, queries, k=5, n_probe=6, rerank=50).toPandas()
    a = approx.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_ivfpq_probe_widening_monotone(spark, sf_dir):
    from blockchain_indexer_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    exact = brute_force_topk(emb, queries, k=5, metric="quantized_neg_l2").toPandas()
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))

    def recall(n_probe):
        out = ivf_pq_topk(emb, queries, k=5, n_probe=n_probe, rerank=100).toPandas()
        pairs = set(zip(out["query_id"], out["neighbor_id"]))
        return len(exact_pairs & pairs) / len(exact_pairs)

    # probing every cell with a wide shortlist approaches the PQ-only
    # ranking; more probes never hurt recall on a fixed shortlist
    assert recall(16) >= recall(4)


def test_knn_label_probe_votes_and_ties(spark):
    """Hand-built geometry: probe 0 sits among label-1 neighbors (clear
    majority); tie votes break to the smallest label."""
    from blockchain_indexer_spark.operators.similarity import knn_label_probe

    rows = [
        (0, [1.0, 0.0], 1),     # probe (stride 1 → every vector probes)
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
        (3, [0.0, 1.0], 2),
        (4, [0.1, 0.9], 2),
        (5, [0.2, 0.8], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["query_id"]: r for r in knn_label_probe(
        emb, "vec_id", "embedding", "label", k=2, stride=1
    ).collect()}
    assert len(got) == 6
    # k=2 nearest of probe 0 are vectors 1,2 (label 1) → predicted 1
    assert got[0]["predicted_label"] == 1 and got[0]["correct"]
    assert got[0]["n_votes"] == 2
    assert got[3]["predicted_label"] == 2 and got[3]["correct"]


def test_knn_label_probe_tie_breaks_to_smallest_label(spark):
    from blockchain_indexer_spark.operators.similarity import knn_label_probe

    rows = [
        (10, [1.0, 0.0], 9),      # probe; its 2 nearest split 1-1
        (11, [0.99, 0.01], 2),
        (12, [0.98, 0.02], 1),
        (13, [-1.0, 0.0], 5),     # far away, outside k=2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["query_id"]: r for r in knn_label_probe(
        emb, "vec_id", "embedding", "label", k=2, stride=1
    ).collect()}
    assert got[10]["n_votes"] == 1
    assert got[10]["predicted_label"] == 1  # 1-1 tie → smallest label
    assert not got[10]["correct"]


def test_knn_label_probe_drops_zero_norm_probes(spark):
    from blockchain_indexer_spark.operators.similarity import knn_label_probe

    rows = [
        (0, [0.0, 0.0], 1),  # zero-norm: no cosine, dropped
        (1, [1.0, 0.0], 1),
        (2, [0.9, 0.1], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = knn_label_probe(emb, "vec_id", "embedding", "label", k=1, stride=1).collect()
    assert sorted(r["query_id"] for r in got) == [1, 2]


def test_topk_recall_membership_semantics(spark):
    from blockchain_indexer_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    # query 1: approx finds 3 of 4 (rank order irrelevant), plus a
    # spurious neighbor that must not count; query 2: total miss;
    # query 3 exists only in approx -> absent from output
    approx = spark.createDataFrame(
        [(1, 12), (1, 10), (1, 11), (1, 99), (2, 98), (3, 30)],
        "query_id long, neighbor_id long",
    )
    out = {r["query_id"]: r for r in topk_recall(approx, exact).collect()}
    assert set(out) == {1, 2}
    assert (out[1]["n_hits"], out[1]["n_exact"]) == (3, 4)
    assert out[1]["recall_nano"] == 750_000_000
    assert (out[2]["n_hits"], out[2]["recall_nano"]) == (0, 0)


def test_pq_distortion_exact_errors_and_code_usage(spark):
    """A 6-vector corpus where the first 2 vectors ARE the codebook
    (n_codes=2, m=2, sub=2): seeds quantize with zero error, the other
    vectors' errors are hand-computable exact integers, and code-usage
    stats count populations per subspace."""
    from blockchain_indexer_spark.operators.similarity import pq_distortion

    # scale=1 keeps the quantized ints equal to the raw values
    vecs = [
        (0, [0.0, 0.0, 10.0, 10.0]),   # seed code 0
        (1, [10.0, 10.0, 0.0, 0.0]),   # seed code 1
        (2, [1.0, 0.0, 10.0, 9.0]),    # j0->c0 err 1, j1->c0 err 1
        (3, [9.0, 9.0, 1.0, 1.0]),     # j0->c1 err 2, j1->c1 err 2
        (4, [5.0, 5.0, 5.0, 5.0]),     # equidistant (50) -> code 0 both
        (5, None),                      # NULL vector excluded
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["j"]: r for r in pq_distortion(
        df, "vec_id", "embedding", m=2, n_codes=2, scale=1
    ).collect()}
    assert set(out) == {0, 1}
    for j in (0, 1):
        assert out[j]["n_vectors"] == 5
        assert out[j]["n_codes_used"] == 2
    # j=0 errors: v0=0, v1=0, v2=1, v3=2, v4=50
    assert out[0]["total_sq_error"] == 53
    assert out[0]["max_sq_error"] == 50
    assert out[0]["mean_sq_error"] == 53.0 / 5.0
    # tie at v4 goes to code 0: populations j0 -> {c0: v0,v2,v4}, {c1: v1,v3}
    assert out[0]["max_code_share"] == 3.0 / 5.0
    # j=1 errors: v0=0, v1=0, v2=1, v3=2, v4=50 (symmetric construction)
    assert out[1]["total_sq_error"] == 53


def test_mutual_knn_graph_ivf_swap_recall(spark):
    """The index-scale retrieval swap (mutual_knn_graph(index='ivf'))
    recovers most of the exact graph's edges on a clustered corpus —
    mutuality filters one-sided misses, so edge recall sits above raw
    neighbor recall — and emits no edge the exact graph would call
    absurd (every IVF edge joins same-cluster vectors here)."""
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    rng = np.random.RandomState(42)
    centers = rng.normal(0, 1.0, (8, 16))
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.normal(0, 0.08, 16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["src"], r["dst"])
        for r in mutual_knn_graph(emb, k=5, index="exact").collect()
    }
    ivf = {
        (r["src"], r["dst"])
        for r in mutual_knn_graph(
            emb, k=5, index="ivf", n_cells=16, n_probe=4
        ).collect()
    }
    assert exact, "exact graph must be non-empty"
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.8, recall
    # structural sanity: IVF edges stay within clusters (diameter of
    # the 0.08-noise clusters is far below the inter-center gap)
    assert all(s % 8 == d % 8 for s, d in ivf)


def test_mutual_knn_graph_pins_retrieval_before_mutualization(spark, sf_dir, monkeypatch):
    """The directed top-k frame is localCheckpointed before the
    mutualization self-join: without the pin both join sides re-run
    the retrieval (2 Arrow stages in the executed plan, ~2x the matmul
    at stress scale). The pinned plan reads the materialized RDD on
    both sides — no Arrow retrieval stage may remain, in either
    regime."""
    from blockchain_indexer_spark.operators import similarity
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    g = mutual_knn_graph(emb, "vec_id", "embedding", k=5)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, "retrieval re-runs per join side"
    monkeypatch.setattr(similarity, "_BROADCAST_BYTES", 0)
    g = mutual_knn_graph(emb, "vec_id", "embedding", k=5)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, "retrieval re-runs per join side"


def test_mutual_knn_graph_ivf_iters0_matches_data_seeded_index(spark):
    """iters=0 (the SQL-replayable data-seeded quantizer, the
    embedding_lp_ivf_agreement gate configuration) must equal wiring
    ivf_topk(iters=0) + mutualization by hand."""
    import numpy as np

    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.similarity import (
        ivf_topk,
        mutual_knn_graph,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["src"], r["dst"])
        for r in mutual_knn_graph(
            emb, k=3, index="ivf", n_cells=8, n_probe=3, iters=0
        ).collect()
    }
    topk = ivf_topk(
        emb, emb, "vec_id", "embedding", k=3, n_cells=8, n_probe=3, iters=0,
        broadcast_queries=False, metric="cosine",
    ).select("query_id", "neighbor_id")
    rev = topk.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in topk.join(rev, ["query_id", "neighbor_id"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .collect()
    }
    assert got == want and got


def test_lsh_topk_fetch_join_equals_ride_along(spark, sf_dir):
    """fetch_join=True (id-only candidate dedup + vector fetch joins,
    the huge-fan-out scale path) must return the exact ride-along
    result — same candidates, same quantized scores, same ties."""
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators.similarity import lsh_topk
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    a = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.score)
        for r in lsh_topk(emb, q, "vec_id", "embedding").collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.score)
        for r in lsh_topk(emb, q, "vec_id", "embedding", fetch_join=True).collect()
    )
    assert a == b and a


def test_ivf_blocked_skew_guard_subsplit_bit_identical(spark):
    """engine='blocked' with a tiny max_cell (force every cell to
    sub-split) must stay bit-identical to engine='expr' — the skew
    guard (driver ADVICE r7: an iters=0 quantizer on a clustered
    corpus lands the MAX cell in one packed row/task) only changes the
    blocking, never the ranking: a pair still meets in exactly one
    sub-cell and the true per-cell top-k is a subset of the union of
    sub-block top-ks."""
    import numpy as np

    from blockchain_indexer_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(11)
    # clustered corpus: one dense blob (skews the data-seeded
    # quantizer's cells) + a light uniform background
    blob = rng.normal(0, 0.05, (90, 8)) + np.ones(8)
    rest = rng.normal(0, 1, (40, 8))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob, rest]))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=4, n_cells=6, n_probe=3, iters=0, broadcast_queries=False,
              metric="cosine")
    want = (
        ivf_topk(emb, emb, **kw, engine="expr")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    for mc in (7, 1):  # both multi-way and degenerate one-member splits
        got = (
            ivf_topk(emb, emb, **kw, engine="blocked", max_cell=mc)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert got.equals(want), f"max_cell={mc} diverged"


def test_ivf_blocked_max_cell_validated(spark):
    """max_cell <= 0 must fail fast with a clear ValueError at plan
    build (driver ADVICE r8), not a ceil/pmod-by-zero deep in the
    executed plan."""
    from blockchain_indexer_spark.operators.similarity import ivf_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    for bad in (0, -4):
        with pytest.raises(ValueError, match="max_cell"):
            ivf_topk(
                emb, emb, k=1, n_cells=1, metric="cosine",
                engine="blocked", max_cell=bad,
            )


# ---------------------------------------------------------------------------
# embedding_pq_adc_agreement
# ---------------------------------------------------------------------------


def test_pq_adc_agreement_stats_recompute(spark, sf_dir):
    """Independent recomputation: the one-row stats must equal a plain
    pandas join of the two top-k frames the gate composes."""
    from blockchain_indexer_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    ex = brute_force_topk(
        emb, q, "vec_id", "embedding", k=5, metric="quantized_neg_l2"
    ).toPandas()
    pq = ivf_pq_topk(
        emb, q, "vec_id", "embedding",
        k=5, n_cells=16, n_probe=6, m=16, n_codes=32, rerank=50,
    ).toPandas()
    j = ex.merge(pq, on=["query_id", "neighbor_id"], suffixes=("_e", "_p"))
    want = {
        "n_queries": ex["query_id"].nunique(),
        "n_exact": len(ex),
        "n_adc": len(pq),
        "n_common": len(j),
        "recall_nano": int(np.floor(1e9 * len(j) / len(ex))) if len(ex) else -1,
        "n_rank_agree": int((j["rank_e"] == j["rank_p"]).sum()),
    }
    got = REGISTRY["embedding_pq_adc_agreement"].build(spark, sf_dir).collect()[0]
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    assert 0 <= got["recall_nano"] <= 10**9
    if got["n_common"]:
        assert got["rank_agree_nano"] == int(
            np.floor(1e9 * want["n_rank_agree"] / want["n_common"])
        )
