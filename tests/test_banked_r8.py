"""Operator tests behind the audio dedup-cluster, video shot-boundary,
longest-repeat-ladder and split-leakage gates (mm_audio_dedup_clusters,
mm_video_shots, doc_longest_repeat, doc_split_leakage), with
independent third implementations. Their Spark-vs-DuckDB parity runs
in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# audio_whash / audio_dedup_clusters
# ---------------------------------------------------------------------------


def _whash_reference(doc_id: int, bits: int = 16, n_fft: int = 64) -> int:
    """Independent fingerprint implementation: recompute the WAV
    closed form and the Walsh-Hadamard difference code with per-bin
    python loops (the operator uses one vectorized sign-matrix
    matmul)."""
    n = 16 + doc_id % 37
    s = [
        ((doc_id * 31 + i * 17) % 65536 - 32768) if i < n else 0
        for i in range(n_fft)
    ]
    e = []
    for k in range(1, bits + 2):
        a = sum(v if bin(k & i).count("1") % 2 == 0 else -v for i, v in enumerate(s))
        e.append(a * a)
    h = 0
    for b in range(bits):
        if e[b] > e[b + 1]:
            h |= 1 << b
    return h


def test_audio_whash_matches_reference(spark, sf_dir):
    from blockchain_indexer_spark.operators.multimodal import (
        attach_wav_blob,
        audio_whash,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    got = {r.doc_id: r.whash for r in audio_whash(attach_wav_blob(docs)).collect()}
    assert len(got) == 80
    for did, h in got.items():
        assert h == _whash_reference(did), did


def test_audio_hash_factoring_equals_doc_level_closure(spark, sf_dir):
    """audio_dedup_clusters runs the closure over DISTINCT
    fingerprints (the dup-dense scale fix); its clusters must be
    IDENTICAL to the naive doc-level closure (doc-level hamming pairs
    -> connected components -> survivors)."""
    from blockchain_indexer_spark.operators.cluster import dedup_survivors
    from blockchain_indexer_spark.operators.dedup import hamming_band_pairs
    from blockchain_indexer_spark.operators.multimodal import (
        attach_wav_blob,
        audio_dedup_clusters,
        audio_whash,
    )
    from blockchain_indexer_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    blobs = attach_wav_blob(docs)
    fast = {
        r.doc_id: (r.cluster, r.keep)
        for r in audio_dedup_clusters(blobs, bits=16, bands=4, max_hamming=2).collect()
    }
    h = audio_whash(blobs).select("doc_id", "whash")
    pairs = hamming_band_pairs(h, "doc_id", "whash", 16, bands=4, max_hamming=2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    naive = {
        r.id: (r.cluster, r.keep)
        for r in dedup_survivors(docs, pairs, "doc_id").collect()
    }
    assert fast == naive


def test_audio_whash_identical_waveforms_collide(spark):
    """Two blobs with byte-identical PCM payloads must fingerprint
    identically regardless of container framing (the decoder walks
    chunks; the fingerprint sees samples only)."""
    import struct

    from blockchain_indexer_spark.operators.multimodal import audio_whash

    def wav(doc_id: int, extra_chunk: bool) -> bytes:
        n = 16 + doc_id % 37
        pcm = (
            ((doc_id * 31 + np.arange(n, dtype=np.int64) * 17) % 65536 - 32768)
            .astype("<i2")
            .tobytes()
        )
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        junk = (b"LIST" + struct.pack("<I", 4) + b"INFO") if extra_chunk else b""
        data = b"data" + struct.pack("<I", len(pcm)) + pcm
        body = b"WAVE" + fmt + junk + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    df = spark.createDataFrame(
        [(1, wav(7, False)), (2, wav(7, True))], "doc_id long, blob binary"
    )
    out = {r.doc_id: r.whash for r in audio_whash(df).collect()}
    assert out[1] == out[2]


# ---------------------------------------------------------------------------
# shot_boundaries
# ---------------------------------------------------------------------------


def test_shot_boundaries_hand_built(spark):
    from blockchain_indexer_spark.operators.multimodal import shot_boundaries

    rows = [
        # doc 1: cut before frame 2 (jump 200) and before frame 4
        (1, 0, 10.0, 10.0, 10.0),
        (1, 1, 12.0, 11.0, 10.0),   # dist 3 -> same shot
        (1, 2, 212.0, 11.0, 10.0),  # dist 200 -> cut
        (1, 3, 213.0, 12.0, 10.0),  # dist 2 -> same shot
        (1, 4, 13.0, 12.0, 140.0),  # dist 330 -> cut
        # doc 2: single frame, one shot
        (2, 0, 5.0, 5.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_index int, mean_b double, mean_g double, mean_r double"
    )
    got = {
        (r.doc_id, r.shot_id): (r.start_frame, r.end_frame, r.n_frames)
        for r in shot_boundaries(df, threshold=128).collect()
    }
    assert got == {
        (1, 0): (0, 1, 2),
        (1, 1): (2, 3, 2),
        (1, 2): (4, 4, 1),
        (2, 0): (0, 0, 1),
    }


def test_shot_boundaries_matches_python_reference(spark):
    """Third implementation check: threshold-cut shot segmentation in
    plain python over seeded random feature series."""
    from blockchain_indexer_spark.operators.multimodal import shot_boundaries

    rng = np.random.default_rng(17)
    rows = []
    series: dict[int, list[tuple[float, float, float]]] = {}
    for did in range(12):
        nf = int(rng.integers(1, 9))
        feats = [tuple(float(x) for x in rng.integers(0, 256, 3)) for _ in range(nf)]
        series[did] = feats
        rows += [(did, fi, *f) for fi, f in enumerate(feats)]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_index int, mean_b double, mean_g double, mean_r double"
    )
    got = sorted(
        (r.doc_id, r.shot_id, r.start_frame, r.end_frame, r.n_frames)
        for r in shot_boundaries(df, threshold=128).collect()
    )
    want = []
    for did, feats in series.items():
        shot, start = 0, 0
        qprev = None
        for fi, f in enumerate(feats):
            q = tuple(int(np.floor(x)) for x in f)
            if qprev is not None and sum(abs(a - b) for a, b in zip(q, qprev)) >= 128:
                want.append((did, shot, start, fi - 1, fi - start))
                shot, start = shot + 1, fi
            qprev = q
        want.append((did, shot, start, len(feats) - 1, len(feats) - start))
    assert got == sorted(want)


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


def test_shot_boundaries_null_feature_is_boundary_not_merge(spark):
    """Driver ADVICE r7: a NULL feature mid-stream used to fall
    through the when-chain to 'no cut', silently merging across the
    bad frame. Unmeasurable transitions are now explicit boundaries —
    the bad frame shows up as its own shot instead of gluing two real
    shots together."""
    from blockchain_indexer_spark.operators.multimodal import shot_boundaries

    rows = [
        (1, 0, 10.0, 10.0, 10.0),
        (1, 1, 11.0, 10.0, 10.0),   # dist 1 -> same shot
        (1, 2, None, 10.0, 10.0),   # bad frame: boundary INTO it...
        (1, 3, 12.0, 10.0, 10.0),   # ...and boundary OUT of it
        (1, 4, 13.0, 10.0, 10.0),   # dist 1 -> same shot as frame 3
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_index int, mean_b double, mean_g double, mean_r double"
    )
    got = {
        (r.doc_id, r.shot_id): (r.start_frame, r.end_frame, r.n_frames)
        for r in shot_boundaries(df, threshold=128).collect()
    }
    assert got == {
        (1, 0): (0, 1, 2),
        (1, 1): (2, 2, 1),
        (1, 2): (3, 4, 2),
    }
