"""Operator tests behind the DBSCAN, image-dedup-cluster and MMR gates
(embedding_dbscan, mm_image_dedup_clusters, doc_mmr_rerank). Their
Spark-vs-DuckDB parity runs in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import numpy as np
import pytest


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


def test_image_dedup_hash_factoring_equals_doc_level_closure(spark, sf_dir):
    """image_dedup_clusters runs the closure over DISTINCT hashes (the
    dup-dense scale fix); its clusters must be IDENTICAL to the naive
    doc-level closure (pairs -> connected components -> survivors)."""
    from blockchain_indexer_spark.operators.cluster import dedup_survivors
    from blockchain_indexer_spark.operators.multimodal import (
        attach_png_blob,
        image_dedup_clusters,
        image_near_dup_pairs,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    blobs = attach_png_blob(docs)
    fast = {
        r.doc_id: (r.cluster, r.keep)
        for r in image_dedup_clusters(blobs, grid=6, bands=4, max_hamming=3).collect()
    }
    pairs = image_near_dup_pairs(blobs, grid=6, bands=4, max_hamming=3).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    naive = {
        r.id: (r.cluster, r.keep)
        for r in dedup_survivors(docs, pairs, "doc_id").collect()
    }
    assert fast == naive


def test_hamming_band_pairs_rejects_bad_bands(spark):
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs

    df = spark.createDataFrame([(1, 3)], "id bigint, h bigint")
    with pytest.raises(ValueError):
        hamming_band_pairs(df, "id", "h", 16, bands=5)


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
