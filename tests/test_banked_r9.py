"""Operator tests behind the video near-dup verdict, cross-modal dedup
union, IVF-PQ ADC agreement monitor, strided-window audio dedup and
DBSCAN exact-vs-LSH certification gates (mm_video_dedup_clusters,
mm_cross_modal_dedup, embedding_pq_adc_agreement,
mm_audio_windowed_dedup, embedding_dbscan_lsh_agreement), with
independent third implementations. Their Spark-vs-DuckDB parity runs
in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from blockchain_indexer_spark.plans import REGISTRY


# ---------------------------------------------------------------------------
# shot_signatures / video_whash / video_dedup_clusters
# ---------------------------------------------------------------------------


def _video_reference(feats: list[tuple[int, int, int]], bits: int = 16):
    """Independent fingerprint implementation: shot segmentation +
    floor-mean signatures + parity-projection SimHash in plain python
    loops (the operator runs window functions + integer exprs)."""
    from blockchain_indexer_spark.operators.multimodal import _video_masks

    shots: list[list[tuple[int, int, int]]] = []
    prev = None
    for f in feats:
        if prev is not None and sum(abs(a - b) for a, b in zip(f, prev)) >= 128:
            shots.append([])
        if not shots:
            shots.append([])
        shots[-1].append(f)
        prev = f
    masks = _video_masks(bits)
    w = [0] * bits
    sigs = []
    for sh in shots:
        n = len(sh)
        qb = sum(f[0] for f in sh) // n
        qg = sum(f[1] for f in sh) // n
        qr = sum(f[2] for f in sh) // n
        sig = (qb << 20) | (qg << 10) | qr
        sigs.append(sig)
        for k, m in enumerate(masks):
            par = bin(sig & m).count("1") % 2
            w[k] += n * (1 - 2 * par)
    vhash = sum(1 << k for k in range(bits) if w[k] > 0)
    return sigs, vhash


def test_video_whash_matches_reference(spark, sf_dir):
    from blockchain_indexer_spark.operators.multimodal import (
        attach_avi_blob,
        sample_frames_real,
        video_whash,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    frames = sample_frames_real(attach_avi_blob(docs), every=1)
    got = {r.doc_id: r.vhash for r in video_whash(frames).collect()}
    assert len(got) == 80
    for did, vh in got.items():
        nf = 1 + did % 5
        feats = [
            (
                (did + 11 * f) % 256,
                (3 * did + 7 * f + 1) % 256,
                (5 * did + 13 * f + 2) % 256,
            )
            for f in range(nf)
        ]
        _, want = _video_reference(feats)
        assert vh == want, did


def test_video_hash_factoring_equals_doc_level_closure(spark, sf_dir):
    """video_dedup_clusters runs the closure over DISTINCT
    fingerprints (the dup-dense scale fix); its clusters must be
    IDENTICAL to the naive doc-level closure (doc-level hamming pairs
    -> connected components -> survivors)."""
    from blockchain_indexer_spark.operators.cluster import dedup_survivors
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs
    from blockchain_indexer_spark.operators.multimodal import (
        attach_avi_blob,
        sample_frames_real,
        video_dedup_clusters,
        video_whash,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    frames = sample_frames_real(attach_avi_blob(docs), every=1)
    fast = {
        r.doc_id: (r.cluster, r.keep)
        for r in video_dedup_clusters(frames, bits=16, bands=4, max_hamming=2).collect()
    }
    h = video_whash(frames).select("doc_id", "vhash")
    pairs = hamming_band_pairs(h, "doc_id", "vhash", 16, bands=4, max_hamming=2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    naive = {
        r.id: (r.cluster, r.keep)
        for r in dedup_survivors(docs, pairs, "doc_id").collect()
    }
    assert fast == naive


def test_shot_signatures_null_frame_nulls_the_shot(spark):
    """NULL policy: a shot containing any NULL-feature frame gets a
    NULL signature (shot_signatures), and video_whash drops it from
    the vote instead of fingerprinting a partial shot."""
    from blockchain_indexer_spark.operators.multimodal import (
        shot_signatures,
        video_whash,
    )

    rows = [
        (1, 0, 10.0, 10.0, 10.0),
        (1, 1, None, 10.0, 10.0),   # boundary in AND out; its own shot
        (1, 2, 10.0, 10.0, 10.0),
        (2, 0, 20.0, 30.0, 40.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_index int, mean_b double, mean_g double, mean_r double"
    )
    sigs = {
        (r.doc_id, r.shot_id): r.sig for r in shot_signatures(df).collect()
    }
    assert sigs[(1, 0)] == (10 << 20) + (10 << 10) + 10
    assert sigs[(1, 1)] is None
    assert sigs[(1, 2)] == (10 << 20) + (10 << 10) + 10
    assert sigs[(2, 0)] == (20 << 20) + (30 << 10) + 40
    vh = {r.doc_id: (r.vhash, r.n_shots) for r in video_whash(df).collect()}
    # doc 1: two valid single-frame shots with identical sig
    sig1 = (10 << 20) + (10 << 10) + 10
    _, want1 = _video_reference([(10, 10, 10), (10, 10, 10)])
    assert vh[1] == (want1, 2)
    del sig1


def test_shot_signatures_agree_with_shot_boundaries(spark, sf_dir):
    """Shared _shot_frames core: signatures and extents must report
    the same shot set (id, shot_id, n_frames) for the same input."""
    from blockchain_indexer_spark.operators.multimodal import (
        attach_avi_blob,
        sample_frames_real,
        shot_boundaries,
        shot_signatures,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    frames = sample_frames_real(attach_avi_blob(docs), every=1)
    ext = {
        (r.doc_id, r.shot_id): r.n_frames
        for r in shot_boundaries(frames, threshold=128).collect()
    }
    sig = {
        (r.doc_id, r.shot_id): r.n_frames
        for r in shot_signatures(frames, threshold=128).collect()
    }
    assert ext == sig


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


# ---------------------------------------------------------------------------
# audio_whash windowed mode (the ADVICE-r7 'real audio' path)
# ---------------------------------------------------------------------------


def _wav_blob(samples: list[int]) -> bytes:
    import struct

    pcm = np.array(samples, dtype="<i2").tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_audio_whash_windowed_default_is_bit_identical(spark, sf_dir):
    """n_windows=1 must reproduce the pre-round-8 single-window code
    exactly — the registered mm_audio_dedup_clusters oracle pins it."""
    from blockchain_indexer_spark.operators.multimodal import (
        attach_wav_blob,
        audio_whash,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    blobs = attach_wav_blob(docs)
    plain = {r.doc_id: r.whash for r in audio_whash(blobs).collect()}
    windowed = {
        r.doc_id: r.whash for r in audio_whash(blobs, n_windows=1).collect()
    }
    assert plain == windowed


def test_audio_whash_windowed_sees_past_first_window(spark):
    """The single-window scope limitation, and its windowed fix: two
    clips sharing their first 64 samples but differing afterwards are
    indistinguishable at n_windows=1 and distinguishable at
    n_windows=4."""
    from blockchain_indexer_spark.operators.multimodal import audio_whash

    rng = np.random.default_rng(23)
    head = rng.integers(-32768, 32767, 64).tolist()
    tail_a = rng.integers(-32768, 32767, 192).tolist()
    # tail_b: strongly different spectral shape (alternating square)
    tail_b = [(-20000 if i % 2 else 20000) for i in range(192)]
    df = spark.createDataFrame(
        [(1, _wav_blob(head + tail_a)), (2, _wav_blob(head + tail_b))],
        "doc_id long, blob binary",
    )
    one = {r.doc_id: r.whash for r in audio_whash(df, n_windows=1).collect()}
    assert one[1] == one[2]  # the documented blind spot
    four = {r.doc_id: r.whash for r in audio_whash(df, n_windows=4).collect()}
    assert four[1] != four[2]


def test_audio_whash_windowed_majority_is_edit_robust(spark):
    """A local edit confined to ONE of four windows flips at most that
    window's votes — the majority fingerprint moves only a few bits
    while the single-window-on-the-edit hash may move many."""
    from blockchain_indexer_spark.operators.multimodal import audio_whash

    rng = np.random.default_rng(31)
    base = rng.integers(-32768, 32767, 256).tolist()
    edited = list(base)
    edited[128:160] = rng.integers(-32768, 32767, 32).tolist()  # window 3 only
    df = spark.createDataFrame(
        [(1, _wav_blob(base)), (2, _wav_blob(edited))],
        "doc_id long, blob binary",
    )
    got = {r.doc_id: r.whash for r in audio_whash(df, n_windows=4).collect()}
    ham = bin(got[1] ^ got[2]).count("1")
    assert ham <= 6, ham  # one window of four can swing at most its votes


def test_shot_signatures_out_of_range_mean_nulls_not_bleeds(spark):
    """10-bit packing guard (driver ADVICE r8): a quantized channel
    floor-mean outside 0..1023 (scale > 1 here) must yield a NULL
    signature, never silently bleed into the adjacent channel's bit
    field — and in-range shots are unaffected by the guard."""
    from blockchain_indexer_spark.operators.multimodal import shot_signatures

    rows = [
        (1, 0, 200.0, 10.0, 10.0),  # 200*8=1600 > 1023: overflow
        (2, 0, 100.0, 20.0, 30.0),  # 100*8=800 fits: valid at scale=8
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, frame_index int, mean_b double, mean_g double, mean_r double",
    )
    sigs = {r.doc_id: r.sig for r in shot_signatures(df, scale=8).collect()}
    assert sigs[1] is None  # not (1600<<20)+... with 1600 bleeding out
    assert sigs[2] == (800 << 20) + (160 << 10) + 240
    # scale=1 fixture shapes (0..255 means) keep their exact packing
    base = {r.doc_id: r.sig for r in shot_signatures(df).collect()}
    assert base[1] == (200 << 20) + (10 << 10) + 10


def test_audio_whash_windowed_majority_over_covered_windows(spark):
    """Covered-window denominator (driver ADVICE r8): windows entirely
    past a short clip's end don't dilute the majority. A 128-sample
    clip under n_windows=4/hop=64 covers exactly 2 windows; when both
    agree the bit must be SET (2v=4 > covered=2), where the old
    n_windows denominator cleared it (4 > 4 false, biasing short
    clips toward all-zero fingerprints)."""
    from blockchain_indexer_spark.operators.multimodal import audio_whash

    rng = np.random.default_rng(47)
    w0 = rng.integers(-32768, 32767, 64).tolist()
    df = spark.createDataFrame(
        [(1, _wav_blob(w0 + w0))], "doc_id long, blob binary"
    )
    one = audio_whash(df, n_windows=1).collect()[0].whash
    four = audio_whash(df, n_windows=4).collect()[0].whash
    assert four == one  # unanimous covered windows == single-window code
    assert one != 0  # and the hash genuinely carries bits


def test_audio_whash_sub_hop_clip_invariant_in_n_windows(spark):
    """A clip shorter than hop covers ONE window, so its fingerprint
    is identical at any n_windows — the covered-window majority makes
    the single window decisive instead of drowned by empty votes."""
    from blockchain_indexer_spark.operators.multimodal import audio_whash

    rng = np.random.default_rng(53)
    clip = rng.integers(-32768, 32767, 50).tolist()
    df = spark.createDataFrame([(1, _wav_blob(clip))], "doc_id long, blob binary")
    hashes = {
        n: audio_whash(df, n_windows=n, hop=64).collect()[0].whash
        for n in (1, 4, 16)
    }
    assert hashes[1] == hashes[4] == hashes[16]
    assert hashes[1] != 0
