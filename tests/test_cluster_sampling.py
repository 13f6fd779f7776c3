"""Connected-components dedup clustering and deterministic sampling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.cluster import connected_components, dedup_survivors
from blockchain_indexer_spark.operators.sampling import hash_bucket, hash_split


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_components_merge_transitively(spark):
    # 1-2, 2-3 chain plus isolated pair 7-9: {1,2,3} and {7,9}
    out = connected_components(_edges(spark, [(1, 2), (2, 3), (7, 9)]))
    got = {r["id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_components_long_path_converges(spark):
    # path 0-1-...-9 has diameter 9: needs several propagation rounds
    out = connected_components(_edges(spark, [(i, i + 1) for i in range(9)]))
    assert {r["cluster"] for r in out.collect()} == {0}


def test_components_diameter_cap_raises(spark):
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(_edges(spark, [(i, i + 1) for i in range(9)]), max_iter=2)


def test_dedup_survivors_labels_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    pairs = spark.createDataFrame([(1, 4), (4, 5)], "doc_a bigint, doc_b bigint")
    out = {r["id"]: (r["cluster"], r["keep"]) for r in
           dedup_survivors(docs, pairs, "doc_id").collect()}
    assert out == {
        0: (0, True), 1: (1, True), 2: (2, True), 3: (3, True),
        4: (1, False), 5: (1, False),
    }


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id").groupBy("split").count().collect()
    b = hash_split(df, "doc_id").groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # 90/5/5 within loose tolerance (hash uniformity, not RNG)
    assert 0.85 <= counts["train"] / 2000 <= 0.95


def test_hash_split_validates_percentages(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 100"):
        hash_split(df, "doc_id", {"train": 50, "test": 40})


def test_hash_bucket_matches_duckdb(spark):
    import duckdb

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", hash_bucket("doc_id", 100).alias("b")).collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 100 "
            "FROM range(100) t(i)"
        ).fetchall()
    )
    assert got == want


def test_quota_sample_caps_each_group(spark):
    from blockchain_indexer_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(60)], "doc_id bigint, g string"
    )
    out = quota_sample(df, "g", "doc_id", 20)
    counts = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts == {"big": 20, "small": 10}  # small group kept whole
    ranks = [r["sample_rank"] for r in out.filter(F.col("g") == "big").collect()]
    assert sorted(ranks) == list(range(1, 21))


def test_quota_sample_deterministic_selection(spark):
    from blockchain_indexer_spark.operators.sampling import quota_sample

    df = spark.createDataFrame([(i, i % 3) for i in range(90)], "doc_id bigint, g int")
    a = {(r["doc_id"], r["sample_rank"]) for r in quota_sample(df, "g", "doc_id", 7).collect()}
    b = {
        (r["doc_id"], r["sample_rank"])
        for r in quota_sample(df.repartition(13), "g", "doc_id", 7).collect()
    }
    assert a == b and len(a) == 21


def test_khop_reachability_diamond_and_cycle(spark):
    from blockchain_indexer_spark.operators.cluster import khop_reachability

    # diamond 1→{2,3}→4→5 plus a 2-cycle 6↔7 and a self-loop 8→8
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 7), (7, 6), (8, 8)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["src"]: (r["n_reach_1"], r["n_reach_2"], r["n_reach_3"])
        for r in khop_reachability(df, "src", "dst", k=3).collect()
    }
    assert got == {
        1: (2, 3, 4),  # {2,3} → +4 → +5
        2: (1, 2, 2),  # 4 → 5
        3: (1, 2, 2),
        4: (1, 1, 1),  # only 5
        6: (1, 1, 1),  # 7; cycle back to 6 doesn't count
        7: (1, 1, 1),
        # 8 absent: self-loop only, no outgoing non-self edge
    }
    assert 8 not in got


def test_star_components_equal_propagation_on_random_graphs(spark):
    """large-star/small-star contraction must produce the identical
    (id, cluster) labeling as min-label propagation — same canonical
    min-id cluster representative."""
    import random

    from blockchain_indexer_spark.operators.cluster import connected_components_star

    rng = random.Random(5)
    for trial in range(4):
        n = 40
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        e = _edges(spark, pairs)
        want = sorted(map(tuple, connected_components(e).collect()))
        got = sorted(map(tuple, connected_components_star(e).collect()))
        assert got == want, (trial, pairs)


def test_star_components_self_loop_only_vertex_gets_row(spark):
    """A vertex appearing ONLY in self-loop edges must still emit
    (id, id), matching connected_components' contract (ADVICE r3: the
    star variant derived vertices after the u != v filter and dropped
    such vertices entirely)."""
    from blockchain_indexer_spark.operators.cluster import connected_components_star

    e = _edges(spark, [(7, 7), (1, 2), (3, 3), (2, 3)])
    want = sorted(map(tuple, connected_components(e).collect()))
    got = sorted(map(tuple, connected_components_star(e).collect()))
    assert got == want
    assert (7, 7) in got


def test_star_components_converge_on_long_chain_fast(spark):
    """A 512-link chain has diameter 512: propagation needs ~512 rounds
    (the raising cap pins that), while star contraction closes it in
    O(log n) rounds — the documented escape hatch, now real."""
    from blockchain_indexer_spark.operators.cluster import connected_components_star

    chain = _edges(spark, [(i, i + 1) for i in range(512)])
    out = connected_components_star(chain, max_iter=20)  # log2(512)=9 + slack
    rows = {r["id"]: r["cluster"] for r in out.collect()}
    assert len(rows) == 513
    assert set(rows.values()) == {0}
    # propagation at the same round budget must NOT converge
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=20)


def test_token_budget_sample_boundary_and_determinism(spark):
    """Take-while-crossing: the doc that crosses the budget is kept,
    everything after is dropped; zero-token docs inside the prefix
    ride free; assignment is stable across partitionings."""
    from blockchain_indexer_spark.operators.sampling import token_budget_sample

    rows = [(i, "s", 40) for i in range(10)] + [(100, "s", 0), (200, "t", 999)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = token_budget_sample(df, "source", "doc_id", "n", budget=100).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # group s: docs in md5-hash order, cumulative 40s → kept while
    # cum_before < 100 → exactly 3 forty-token docs (0, 40, 80), plus
    # the zero-token doc wherever it lands inside the kept prefix
    s_nonzero = [r for r in by_src["s"] if r["n"] > 0]
    assert len(s_nonzero) == 3
    assert max(r["cum_before"] for r in by_src["s"]) < 100
    # group t: its single doc overshoots the budget alone but is kept
    # (cum_before = 0 < 100) — the no-starvation rule
    assert [r["doc_id"] for r in by_src["t"]] == [200]
    # determinism across partition layouts
    again = token_budget_sample(
        df.repartition(7), "source", "doc_id", "n", budget=100
    ).collect()
    assert sorted((r["doc_id"], r["cum_before"]) for r in again) == sorted(
        (r["doc_id"], r["cum_before"]) for r in out
    )


def _pagerank_ref(edges, iters=3, d_num=85, d_den=100, scale=10**12):
    """Pure-Python reference of the integer PageRank contract."""
    e = sorted(set(edges))
    vs = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(vs)
    deg = {}
    for u, _ in e:
        deg[u] = deg.get(u, 0) + 1
    base = ((d_den - d_num) * scale) // (d_den * n)
    r = {v: scale // n for v in vs}
    for _ in range(iters):
        s = {v: 0 for v in vs}
        for u, v in e:
            s[v] += r[u] // deg[u]
        r = {v: base + (d_num * s[v]) // d_den for v in vs}
    return r


def test_pagerank_matches_reference_and_is_deterministic(spark):
    from blockchain_indexer_spark.operators.cluster import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (4, 1), (4, 3), (2, 3)]  # dup edge collapsed
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _pagerank_ref(edges)
    got = {r["id"]: r["rank_scaled"] for r in pagerank(df).collect()}
    assert got == want
    # sink vertex 3 accumulates the most rank; dangling mass absorbs
    assert max(got, key=got.get) == 3
    # bit-identical across partition layouts
    again = {r["id"]: r["rank_scaled"] for r in pagerank(df.repartition(5)).collect()}
    assert again == got
    # rank column is the exact scaled division
    rows = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    assert rows[3] == got[3] / 1e12


def test_pagerank_zero_iters_is_uniform(spark):
    from blockchain_indexer_spark.operators.cluster import pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["id"]: r["rank_scaled"] for r in pagerank(df, iters=0).collect()}
    assert got == {1: 10**12 // 2, 2: 10**12 // 2}


def test_cluster_representatives_keeps_best_scored(spark):
    from blockchain_indexer_spark.operators.cluster import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7), (5, None)],
        "doc_id long, quality int",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {
        r["id"]: (r["cluster"], r["score"], r["keep"])
        for r in cluster_representatives(docs, pairs, "doc_id", "quality").collect()
    }
    # cluster {1,2,3}: best score 99 tied between 2 and 3 -> smallest id 2
    assert out[2] == (1, 99, True)
    assert out[1] == (1, 10, False)
    assert out[3] == (1, 99, False)
    # singletons keep themselves, even with a NULL score
    assert out[4] == (4, 7, True)
    assert out[5] == (5, None, True)


def test_triangle_counts_known_graph(spark):
    from blockchain_indexer_spark.operators.cluster import triangle_counts

    # K4 on {1,2,3,4} plus a pendant vertex 5 and a detached edge (6,7);
    # reversed/duplicate/self-loop input rows must collapse.
    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (6, 7), (6, 6),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["id"]: r for r in triangle_counts(df).collect()}
    # K4: each vertex is in C(3,2) = 3 triangles; 5/6/7 in none
    assert set(rows) == {1, 2, 3, 4}
    for v in (1, 2, 3):
        assert rows[v]["n_tri"] == 3 and rows[v]["degree"] == 3
        assert rows[v]["clustering"] == 1.0
    # vertex 4 also touches the pendant edge: degree 4, still 3 triangles
    assert rows[4]["n_tri"] == 3 and rows[4]["degree"] == 4
    assert rows[4]["clustering"] == 2.0 * 3 / (4 * 3)
    # partition-layout invariant
    again = {r["id"]: r["n_tri"] for r in triangle_counts(df.repartition(7)).collect()}
    assert again == {v: rows[v]["n_tri"] for v in rows}


def test_triangle_counts_skewed_hub(spark):
    from blockchain_indexer_spark.operators.cluster import triangle_counts

    # star hub 0 with 30 leaves (no triangles) plus one closed pair:
    # degree-ordered orientation must not credit the hub quadratically
    edges = [(0, i) for i in range(1, 31)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["id"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert rows == {0: 1, 1: 1, 2: 1}


def test_shard_plan_is_the_md5_permutation(spark):
    from blockchain_indexer_spark.operators.sampling import shard_plan

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = shard_plan(df, "doc_id", n_shards=4).collect()
    # every row placed exactly once; positions are 1..n per shard
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for rows in by_shard.values():
        assert sorted(r["pos"] for r in rows) == list(range(1, len(rows) + 1))
    # reading shards in (shard, pos) order IS the md5-permutation order
    import hashlib

    def h(i: int) -> int:
        return int(hashlib.md5(f"shard:{i}".encode()).hexdigest()[:8], 16)

    for shard, rows in by_shard.items():
        got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["pos"])]
        want = sorted((i for i in range(200) if h(i) % 4 == shard), key=lambda i: (h(i), i))
        assert got == want
    # stable under partition layout; a different salt is a different permutation
    again = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shard_plan(df.repartition(9), "doc_id", n_shards=4).collect()}
    assert again == {r["doc_id"]: (r["shard"], r["pos"]) for r in out}
    other = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_plan(df, "doc_id", n_shards=4, salt="epoch1").collect()}
    assert other != again


def test_mutual_knn_graph_requires_both_directions(spark):
    from blockchain_indexer_spark.operators.similarity import mutual_knn_graph

    # 2-D toy corpus: two tight groups; with k=1, vectors pair up
    # mutually within groups; the outlier's nearest is not reciprocated
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.01]),
        (3, [0.0, 1.0]),
        (4, [0.01, 0.99]),
        (5, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["src"], r["dst"]) for r in mutual_knn_graph(df, k=1).collect()}
    assert got == {(1, 2), (3, 4)}


def test_star_local_fast_path_equals_distributed(spark):
    """local_threshold's bounded-collect union-find must produce the
    exact (id, min-id cluster) rows of the distributed star rounds on
    random graphs, chains, self-loops and isolated-self-loop vertices."""
    import numpy as np

    from blockchain_indexer_spark.operators.cluster import connected_components_star

    rng = np.random.default_rng(47)
    cases = []
    # random sparse graph
    cases.append([(int(rng.integers(0, 60)), int(rng.integers(0, 60))) for _ in range(80)])
    # long chain (the star algorithm's reason to exist)
    cases.append([(i, i + 1) for i in range(100)])
    # self-loops only + a disjoint pair
    cases.append([(5, 5), (9, 9), (1, 2)])
    for rows in cases:
        e = spark.createDataFrame(rows, "src long, dst long")
        dist = {
            (r.id, r.cluster)
            for r in connected_components_star(e, "src", "dst").collect()
        }
        local = {
            (r.id, r.cluster)
            for r in connected_components_star(
                e, "src", "dst", local_threshold=10**6
            ).collect()
        }
        assert local == dist


def test_star_local_threshold_falls_through_when_exceeded(spark):
    """A graph bigger than the threshold must take the distributed
    path (same results; this pins the guard, not the algebra)."""
    from blockchain_indexer_spark.operators.cluster import connected_components_star

    rows = [(i, i + 1) for i in range(50)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r.id, r.cluster)
        for r in connected_components_star(e, "src", "dst", local_threshold=3).collect()
    }
    assert got == {(i, 0) for i in range(51)}


def test_propagation_local_fast_path_equals_distributed(spark):
    """Round 9: connected_components' local_threshold fast path (one
    bounded collect + union-find) must produce the exact (id, min-id
    cluster) rows of the distributed propagation rounds — random
    graphs, self-loops, and vertices appearing only in self-loops."""
    import numpy as np

    from blockchain_indexer_spark.operators.cluster import connected_components

    rng = np.random.default_rng(48)
    cases = [
        [(int(rng.integers(0, 60)), int(rng.integers(0, 60))) for _ in range(80)],
        [(i, i + 1) for i in range(20)],
        [(5, 5), (9, 9), (1, 2)],
    ]
    for rows in cases:
        e = spark.createDataFrame(rows, "src long, dst long")
        dist = {
            (r.id, r.cluster)
            for r in connected_components(e, "src", "dst").collect()
        }
        local = {
            (r.id, r.cluster)
            for r in connected_components(
                e, "src", "dst", local_threshold=10**6
            ).collect()
        }
        assert local == dist


def test_propagation_fast_path_tolerates_null_endpoints(spark):
    """ADVICE r9: a NULL endpoint must not crash the collected
    union-find (None vs int comparison) — it behaves exactly like the
    distributed rounds, where NULL matches nothing in the joins: the
    edge is inert and the NULL vertex emits a (NULL, NULL) row."""
    from blockchain_indexer_spark.operators.cluster import connected_components

    rows = [(1, 2), (2, 3), (None, 4), (5, None), (7, 7)]
    e = spark.createDataFrame(rows, "src long, dst long")
    dist = {
        (r.id, r.cluster)
        for r in connected_components(e, "src", "dst").collect()
    }
    local = {
        (r.id, r.cluster)
        for r in connected_components(
            e, "src", "dst", local_threshold=10**6
        ).collect()
    }
    assert local == dist
    assert (1, 1) in local and (3, 1) in local and (7, 7) in local


def test_propagation_local_threshold_falls_through_when_exceeded(spark):
    """Above the bound the distributed propagation path must run
    (same results; pins the guard)."""
    from blockchain_indexer_spark.operators.cluster import connected_components

    rows = [(i, i + 1) for i in range(10)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r.id, r.cluster)
        for r in connected_components(e, "src", "dst", local_threshold=2).collect()
    }
    assert got == {(i, 0) for i in range(11)}


def test_build_concurrently_order_results_and_errors(spark):
    """Round 9: build_concurrently returns results in argument order,
    produces the same frames as a serial build, and propagates the
    first builder exception."""
    import pytest

    from blockchain_indexer_spark.operators.overlap import build_concurrently

    df = spark.range(100)
    a, b, c = build_concurrently(
        lambda: df.selectExpr("sum(id) as s").localCheckpoint(eager=True),
        lambda: df.selectExpr("count(*) as c").localCheckpoint(eager=True),
        lambda: 42,
    )
    assert a.collect()[0].s == 4950
    assert b.collect()[0].c == 100
    assert c == 42
    # single-builder form runs inline
    (only,) = build_concurrently(lambda: 7)
    assert only == 7

    def boom():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        build_concurrently(lambda: 1, boom)


# ---------------------------------------------------------------------------
# dbscan_clusters (semantics via an injected pair frame)
# ---------------------------------------------------------------------------


def test_dbscan_roles_and_clusters(spark):
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters

    ids = [1, 2, 3, 4, 5, 6, 7, 10, 11, 12, 13]
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in ids], "vec_id bigint, embedding array<float>"
    )
    pairs = spark.createDataFrame(
        [
            # star: 1 is core at min_pts=4 (closed nbhd 4); 2,3,4 border
            (1, 2), (1, 3), (1, 4),
            # isolated low-density pair: both noise (no core neighbor)
            (5, 6),
            # two cores 10,11 share borders 12,13
            (10, 11), (10, 12), (10, 13), (11, 12), (11, 13),
        ],
        "vec_a bigint, vec_b bigint",
    )
    out = {
        r.id: (r.role, r.cluster)
        for r in dbscan_clusters(emb, "vec_id", "embedding", min_pts=4, pairs=pairs).collect()
    }
    assert out[1] == ("core", 1)
    assert out[2] == out[3] == out[4] == ("border", 1)
    assert out[5] == out[6] == out[7] == ("noise", -1)
    assert out[10] == out[11] == ("core", 10)
    assert out[12] == out[13] == ("border", 10)


def test_dbscan_exact_default_path(spark, sf_dir):
    """The default exact-pairs path: every embedding row gets exactly
    one role; clusters are labeled by a member core id."""
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = dbscan_clusters(emb, "vec_id", "embedding", eps=0.3, min_pts=4).toPandas()
    assert len(out) == emb.count()
    assert set(out["role"]) == {"core", "border", "noise"}
    core = out[out["role"] == "core"]
    # every core cluster label is itself a core point's id
    assert set(core["cluster"]) <= set(core["id"])
    assert (out.loc[out["role"] == "noise", "cluster"] == -1).all()


def test_dbscan_lsh_pairs_seam(spark, sf_dir):
    """The documented scale path: lsh_near_dup_pairs output plugs into
    the `pairs` seam; roles/labels stay internally consistent."""
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters
    from blockchain_indexer_spark.operators.similarity import lsh_near_dup_pairs
    from blockchain_indexer_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3)
    out = dbscan_clusters(emb, "vec_id", "embedding", min_pts=4, pairs=pairs).toPandas()
    assert len(out) == emb.count()
    core = out[out["role"] == "core"]
    assert set(core["cluster"]) <= set(core["id"])


def test_dbscan_matches_python_reference_on_random_corpora(spark):
    """Third implementation check (beyond the DuckDB oracle's single
    corpus): DBSCAN's role/cluster semantics vs an independent
    union-find reference, on seeded random vector sets at two
    (eps, min_pts) settings."""
    from blockchain_indexer_spark.operators.cluster import dbscan_clusters
    from blockchain_indexer_spark.operators.similarity import _q_away

    rng = np.random.default_rng(11)

    def reference(vecs: dict[int, np.ndarray], eps: float, min_pts: int):
        q = {i: _q_away(v * 1000.0) for i, v in vecs.items()}
        nz = {i: v for i, v in q.items() if (v * v).sum() > 0}
        ids = sorted(nz)
        nbrs = {i: set() for i in ids}
        for ai, a in enumerate(ids):
            for b in ids[ai + 1:]:
                va, vb = nz[a], nz[b]
                # same op order as the engines: product in double FIRST
                cos = float(va @ vb) / np.sqrt((va * va).sum() * (vb * vb).sum())
                if cos >= eps:
                    nbrs[a].add(b)
                    nbrs[b].add(a)
        core = {i for i in ids if len(nbrs[i]) + 1 >= min_pts}
        parent = {i: i for i in core}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in core:
            for b in nbrs[a] & core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
        out = {}
        for i in vecs:
            if i in core:
                out[i] = ("core", find(i))
            elif i in nz and nbrs[i] & core:
                out[i] = ("border", min(find(c) for c in nbrs[i] & core))
            else:
                out[i] = ("noise", -1)
        return out

    for eps, min_pts in ((0.8, 3), (0.5, 5)):
        n, dim = 40, 6
        raw = rng.normal(size=(n, dim)).astype(np.float32)
        raw[::9] = raw[::9] * 0.1 + raw[3]  # plant a dense lump
        raw[7] = 0.0  # zero vector -> noise by construction
        vecs = {i: raw[i].astype(np.float64) for i in range(n)}
        df = spark.createDataFrame(
            [(i, [float(x) for x in raw[i]]) for i in range(n)],
            "vec_id bigint, embedding array<float>",
        )
        got = {
            r.id: (r.role, r.cluster)
            for r in dbscan_clusters(
                df, "vec_id", "embedding", eps=eps, min_pts=min_pts
            ).collect()
        }
        assert got == reference(vecs, eps, min_pts), (eps, min_pts)


# ---------------------------------------------------------------------------
# cross_modal_dedup_clusters
# ---------------------------------------------------------------------------


def test_cross_modal_transitive_union(spark):
    """A~B by one modality and B~C by another must merge all three
    into one cluster with the minimum id surviving; evidence arrives
    as one VERDICT frame and one PAIR frame."""
    from blockchain_indexer_spark.operators.cluster import cross_modal_dedup_clusters

    universe = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    # modality 1 (verdict shape): {1,2} clustered under 1; 3..6 alone
    verdict = spark.createDataFrame(
        [(1, 1, True), (2, 1, False)] + [(i, i, True) for i in range(3, 7)],
        "id long, cluster long, keep boolean",
    )
    # modality 2 (pair shape): 2~3 and 5~6
    pairs = spark.createDataFrame([(2, 3), (5, 6)], "doc_a long, doc_b long")
    got = {
        r.id: (r.cluster, r.keep)
        for r in cross_modal_dedup_clusters(universe, [verdict, pairs]).collect()
    }
    assert got == {
        1: (1, True),
        2: (1, False),
        3: (1, False),   # transitively via 2
        4: (4, True),
        5: (5, True),
        6: (5, False),
    }


def test_cross_modal_rejects_unrecognized_evidence(spark):
    from blockchain_indexer_spark.operators.cluster import cross_modal_dedup_clusters

    universe = spark.createDataFrame([(1,)], "doc_id long")
    bad = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="neither a verdict nor|neither a"):
        cross_modal_dedup_clusters(universe, [bad])
    with pytest.raises(ValueError, match="at least one"):
        cross_modal_dedup_clusters(universe, [])


def test_cross_modal_audio_modality_collapses_fixture(spark, sf_dir):
    """Pins WHY the cross-modal gate excludes audio: the audio fixture
    corpus chains into ONE hamming family (mm_audio_dedup_clusters'
    doc), so a union that includes it degenerates to a single
    cross-modal cluster — correct but uninformative."""
    from blockchain_indexer_spark.operators.cluster import cross_modal_dedup_clusters
    from blockchain_indexer_spark.operators.multimodal import (
        attach_wav_blob,
        audio_dedup_clusters,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aud = audio_dedup_clusters(attach_wav_blob(docs), bits=16, bands=4, max_hamming=2)
    x = cross_modal_dedup_clusters(docs, [aud])
    assert x.select("cluster").distinct().count() == 1
