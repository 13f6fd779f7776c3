"""Multimodal operators: exact-value checks of the stub decoders'
contracts (geometry, fan-out multiplicity, feature histograms) against
pure-Python recomputation, plus the NotImplementedError gate for the
real-codec path."""

from __future__ import annotations

import numpy as np
import pytest

from blockchain_indexer_spark.operators.multimodal import (
    FRAME_BYTES,
    attach_blob,
    decode_image,
    decode_image_real,
    extract_features,
    resize_thumbnail,
    sample_frames,
)

TEXTS = [
    "tiny",
    "a" * 100,
    "mixed 123 punctuation!?" * 40,
    "unicode éüß tails " * 7,  # multi-byte UTF-8
    "x" * 5000,  # multiple fake frames
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    return attach_blob(spark.createDataFrame(rows, "doc_id long, text string"))


def nbytes(t: str) -> int:
    return len(t.encode("utf-8"))


def test_blob_layout(docs):
    got = {r["doc_id"]: r for r in docs.select("doc_id", "blob", "media_meta").collect()}
    for i, t in enumerate(TEXTS):
        assert bytes(got[i]["blob"]) == t.encode("utf-8")
        assert got[i]["media_meta"]["nbytes"] == nbytes(t)
        assert got[i]["media_meta"]["mime"] == "image/fake"


def test_decode_geometry_exact(docs):
    got = {r["doc_id"]: r for r in decode_image(docs).collect()}
    for i, t in enumerate(TEXTS):
        n = nbytes(t)
        b = t.encode("utf-8")
        assert got[i]["width"] == 16 + n % 624
        assert got[i]["height"] == 16 + n % 464
        assert got[i]["channels"] == 3
        assert got[i]["nbytes"] == n
        assert got[i]["mean_byte"] == pytest.approx(sum(b) / n)


def test_resize_fits_max_side(docs):
    got = {r["doc_id"]: r for r in resize_thumbnail(docs, max_side=64).collect()}
    for i, t in enumerate(TEXTS):
        n = nbytes(t)
        w, h = 16 + n % 624, 16 + n % 464
        scale = max(max(w, h) / 64.0, 1.0)
        assert got[i]["width"] == int(w / scale)
        assert got[i]["height"] == int(h / scale)
        assert max(got[i]["width"], got[i]["height"]) <= 64
        assert got[i]["thumb_nbytes"] == got[i]["width"] * got[i]["height"] * 3


def test_frame_sampling_multiplicity(docs):
    rows = sample_frames(docs, every=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(TEXTS):
        n = nbytes(t)
        n_frames = (n + FRAME_BYTES - 1) // FRAME_BYTES
        expected = list(range(0, n_frames, 4))
        got = sorted(by_doc.get(i, []), key=lambda r: r["frame_index"])
        assert [r["frame_index"] for r in got] == expected
        for r in got:
            assert r["frame_nbytes"] == min(FRAME_BYTES, n - r["frame_index"] * FRAME_BYTES)


def test_feature_histogram_exact(docs):
    got = {r["doc_id"]: r for r in extract_features(docs).collect()}
    for i, t in enumerate(TEXTS):
        arr = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16).astype(float)
        hist /= hist.sum()
        assert np.allclose(got[i]["feature"], hist)
        assert len(got[i]["feature"]) == 16


def _mk_bmp(w: int, h: int, px: np.ndarray, top_down: bool = False) -> bytes:
    """Reference BMP writer for decoder tests: px is [h, w, 3] BGR in
    visual (top-to-bottom) order; bottom-up files store rows reversed."""
    import struct

    rows = px if top_down else px[::-1]
    stride_pad = b"\x00" * ((-3 * w) % 4)
    data = b"".join(bytes(rows[y].reshape(-1)) + stride_pad for y in range(h))
    off = 54
    fh = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0, len(data), 0, 0, 0, 0
    )
    return fh + ih + data


def test_bmp_decode_gradient_roundtrip():
    """Gradient pixels + a pad-carrying width catch stride and
    row-order bugs the constant-fill gate can't."""
    from blockchain_indexer_spark.operators.multimodal import decode_bmp

    rng = np.random.RandomState(7)
    for w, h in [(5, 3), (4, 4), (7, 2), (1, 1), (6, 5)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        for top_down in (False, True):
            gw, gh, got = decode_bmp(_mk_bmp(w, h, px, top_down=top_down))
            assert (gw, gh) == (w, h)
            assert np.array_equal(got, px), (w, h, top_down)


def test_bmp_decode_rejects_other_formats():
    from blockchain_indexer_spark.operators.multimodal import decode_bmp

    with pytest.raises(ValueError):
        decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def test_real_decode_spark_path(spark):
    """End-to-end: synthesized BMP blobs through decode_image_real on
    Spark match the closed-form geometry/fill contract."""
    from blockchain_indexer_spark.operators.multimodal import attach_bmp_blob

    ids = [0, 1, 12, 13, 255, 256, 9999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in decode_image_real(attach_bmp_blob(df)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        r = got[i]
        assert (r["width"], r["height"], r["channels"]) == (4 + i % 13, 4 + i % 9, 3)
        assert r["mean_b"] == float(i % 256)
        assert r["mean_g"] == float((7 * i + 1) % 256)
        assert r["mean_r"] == float((13 * i + 2) % 256)


def _mk_png(px: np.ndarray, filters, alpha: np.ndarray | None = None) -> bytes:
    """Reference PNG writer for decoder tests, independent of the
    attach_png_blob encoder: explicit per-row filter choice, RGB or
    RGBA, single IDAT."""
    import struct
    import zlib

    from blockchain_indexer_spark.operators.multimodal import _png_chunk

    h, w, _ = px.shape
    data = px if alpha is None else np.concatenate([px, alpha[:, :, None]], axis=2)
    bpp = data.shape[2]
    raw = data.reshape(h, w * bpp).astype(np.int32)
    out = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for r in range(h):
        cur, ft = raw[r], filters[r % len(filters)]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc_ = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc_), left, np.where(pb <= pc_, prev, ul))
            enc = cur - pred
        out.append(ft)
        out.extend((enc % 256).astype(np.uint8).tobytes())
        prev = cur
    ctype = 6 if alpha is not None else 2
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
    return (
        b"\x89PNG\r\n\x1a\n"
        + ihdr
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_decode_every_filter_roundtrip():
    """Random pixels under each fixed filter type AND a mixed cycle:
    any predictor, Sub byte-offset, or Paeth tie-break bug corrupts
    the reconstruction."""
    from blockchain_indexer_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(11)
    for w, h in [(5, 3), (1, 1), (7, 6), (3, 8)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            gw, gh, got = decode_png(_mk_png(px, filters))
            assert (gw, gh) == (w, h)
            assert np.array_equal(got, px[:, :, ::-1]), (w, h, filters)


def test_png_decode_rgba_drops_alpha():
    from blockchain_indexer_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(4, 6, 3)).astype(np.uint8)
    alpha = rng.randint(0, 256, size=(4, 6)).astype(np.uint8)
    gw, gh, got = decode_png(_mk_png(px, [0, 1, 2, 3, 4], alpha=alpha))
    assert (gw, gh) == (6, 4)
    assert np.array_equal(got, px[:, :, ::-1])


def test_png_decode_batch_bit_identical_to_single():
    """decode_png_batch (round-10 cross-image vectorized defilter)
    must reproduce decode_png bit-for-bit on a mixed batch: RGB and
    RGBA, varied geometries, every filter type, shuffled order."""
    import random

    from blockchain_indexer_spark.operators.multimodal import (
        decode_png,
        decode_png_batch,
    )

    rng = np.random.RandomState(42)
    bufs = []
    for w, h in [(5, 3), (1, 1), (7, 6), (3, 8), (16, 12), (2, 9)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 1]):
            bufs.append(_mk_png(px, filters))
        alpha = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        bufs.append(_mk_png(px, [0, 1, 2, 3, 4], alpha=alpha))
    random.Random(7).shuffle(bufs)
    ref = [decode_png(b) for b in bufs]
    got = decode_png_batch(bufs)
    assert len(ref) == len(got)
    for (rw, rh, rpx), (gw, gh, gpx) in zip(ref, got):
        assert (rw, rh) == (gw, gh)
        assert np.array_equal(rpx, gpx)
    # empty batch and error propagation
    assert decode_png_batch([]) == []
    with pytest.raises(ValueError):
        decode_png_batch([bufs[0], b"BM" + b"\x00" * 64])


def test_png_decode_rejects_bad_payloads():
    import struct

    from blockchain_indexer_spark.operators.multimodal import _png_chunk, decode_png

    with pytest.raises(ValueError):
        decode_png(b"BM" + b"\x00" * 64)
    good = _mk_png(np.zeros((2, 2, 3), dtype=np.uint8), [0])
    # flip one IDAT byte: the CRC check must catch it
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # palette color type is an honest NotImplementedError seam
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        decode_png(b"\x89PNG\r\n\x1a\n" + ihdr + _png_chunk(b"IEND", b""))
    # interlaced
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
    with pytest.raises(NotImplementedError, match="interlaced"):
        decode_png(b"\x89PNG\r\n\x1a\n" + ihdr + _png_chunk(b"IEND", b""))


def test_real_png_spark_path(spark):
    """End-to-end: synthesized compressed PNG blobs through
    decode_image_real on Spark match the closed-form gradient means."""
    from blockchain_indexer_spark.operators.multimodal import attach_png_blob

    ids = [0, 1, 12, 13, 255, 256, 9999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in decode_image_real(attach_png_blob(df)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        r_, w, h = got[i], 4 + i % 13, 4 + i % 9
        assert (r_["width"], r_["height"], r_["channels"]) == (w, h, 3)
        rr, cc = np.arange(h)[:, None], np.arange(w)[None, :]
        assert r_["mean_b"] == ((3 * i + rr + 13 * cc) % 256).mean()
        assert r_["mean_g"] == ((2 * i + 5 * rr + 11 * cc) % 256).mean()
        assert r_["mean_r"] == ((i + 3 * rr + 7 * cc) % 256).mean()


def _mk_wav(rate: int, samples: np.ndarray, junk_chunk: bool = False) -> bytes:
    """Reference WAV writer for decoder tests: samples is [n, channels]
    int16; optionally plants a LIST chunk before data (chunk-walk test)
    and an odd-sized chunk (word-alignment test)."""
    import struct

    channels = samples.shape[1]
    pcm = samples.astype("<i2").tobytes()
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    )
    junk = b""
    if junk_chunk:
        # odd-sized chunk: a parser ignoring the pad byte desyncs here
        junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    body = b"WAVE" + fmt + junk + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_decode_roundtrip_with_chunk_walk():
    from blockchain_indexer_spark.operators.multimodal import decode_wav

    rng = np.random.RandomState(11)
    for n, channels in [(1, 1), (17, 1), (8, 2), (33, 2)]:
        samples = rng.randint(-32768, 32768, size=(n, channels)).astype(np.int16)
        for junk in (False, True):
            rate, ch, got = decode_wav(_mk_wav(44100, samples, junk_chunk=junk))
            assert (rate, ch) == (44100, channels)
            assert np.array_equal(got, samples), (n, channels, junk)


def test_wav_decode_rejects_other_formats():
    from blockchain_indexer_spark.operators.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"OggS" + b"\x00" * 64)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x10\x00\x00\x00AVI " + b"\x00" * 16)


def test_real_audio_spark_path(spark):
    """End-to-end: synthesized WAV blobs through decode_audio_real on
    Spark match the closed-form sample contract (incl. the planted
    LIST chunk a byte-44 parser would trip over)."""
    from blockchain_indexer_spark.operators.multimodal import attach_wav_blob, decode_audio_real

    ids = [0, 1, 36, 37, 255, 9999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in decode_audio_real(attach_wav_blob(df)).collect()}
    assert set(got) == set(ids)
    for i in ids:
        n = 16 + i % 37
        samples = (i * 31 + np.arange(n, dtype=np.int64) * 17) % 65536 - 32768
        r = got[i]
        assert (r["sample_rate"], r["channels"], r["n_samples"]) == (8000, 1, n)
        assert r["duration_s"] == n / 8000.0
        assert r["mean_amp"] == float(samples.sum()) / n
        assert r["max_abs"] == int(np.abs(samples).max())


def _mk_avi(w: int, h: int, frames: list, top_down: bool = False) -> bytes:
    """Reference AVI writer for decoder tests: frames are [h, w, 3] BGR
    in visual order; bottom-up files store rows reversed."""
    import struct

    pad = b"\x00" * ((-3 * w) % 4)
    movi_body = b""
    for px in frames:
        rows = px if top_down else px[::-1]
        dib = b"".join(bytes(rows[y].reshape(-1)) + pad for y in range(h))
        movi_body += b"00db" + struct.pack("<I", len(dib)) + dib
    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<14I", 33333, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0
    )
    bih = struct.pack("<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0, 0, 0, 0, 0, 0)
    strh = b"strh" + struct.pack("<I", 56) + b"vids" + b"DIB " + b"\x00" * 48
    strf = b"strf" + struct.pack("<I", len(bih)) + bih
    strl = b"LIST" + struct.pack("<I", 4 + len(strh + strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih + strl)) + b"hdrl" + avih + strl
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_decode_gradient_roundtrip():
    """Gradient frames + pad-carrying widths catch stride, row-order
    and nested-LIST-walking bugs the constant-fill gate can't."""
    from blockchain_indexer_spark.operators.multimodal import decode_avi

    rng = np.random.RandomState(23)
    for w, h, nf in [(5, 3, 2), (4, 4, 1), (7, 2, 4), (1, 1, 3)]:
        frames = [rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8) for _ in range(nf)]
        for top_down in (False, True):
            gw, gh, got = decode_avi(_mk_avi(w, h, frames, top_down=top_down))
            assert (gw, gh) == (w, h)
            assert len(got) == nf
            for want, have in zip(frames, got):
                assert np.array_equal(have, want), (w, h, nf, top_down)


def test_avi_decode_rejects_other_containers():
    from blockchain_indexer_spark.operators.multimodal import decode_avi

    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x10\x00\x00\x00WAVE" + b"\x00" * 16)
    with pytest.raises(ValueError):
        decode_avi(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16)


def test_real_frames_spark_path(spark):
    """End-to-end: synthesized AVI blobs through sample_frames_real on
    Spark match the closed-form frame contract (every-2nd sampling)."""
    from blockchain_indexer_spark.operators.multimodal import attach_avi_blob, sample_frames_real

    ids = [0, 1, 4, 5, 255, 9999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {}
    for r in sample_frames_real(attach_avi_blob(df), every=2).collect():
        got.setdefault(r["doc_id"], {})[r["frame_index"]] = r
    for i in ids:
        nf = 1 + i % 5
        assert sorted(got[i]) == list(range(0, nf, 2))
        for fi, r in got[i].items():
            assert (r["width"], r["height"]) == (4 + i % 7, 2 + i % 5)
            assert r["mean_b"] == float((i + 11 * fi) % 256)
            assert r["mean_g"] == float((3 * i + 7 * fi + 1) % 256)
            assert r["mean_r"] == float((5 * i + 13 * fi + 2) % 256)


def test_image_ahash_structure(spark):
    """Constant image → no cell strictly brighter than the mean →
    hash 0; a hard left/right split lights exactly the right-column
    cells; PNG and BMP encodings of the same pixels hash identically."""
    import numpy as np

    from blockchain_indexer_spark.operators.multimodal import image_ahash

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    split = np.zeros((8, 8, 3), dtype=np.uint8)
    split[:, 4:, :] = 255
    rows = [
        (1, _mk_png(flat, [0, 1, 2, 3, 4])),
        (2, _mk_png(split, [0, 2])),
        (3, _mk_bmp(8, 8, split)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in image_ahash(df).collect()}
    assert got[1]["ahash"] == 0 and got[1]["n_bright"] == 0
    # right half bright: cells (cr, cc) with cc in {2, 3} → bits
    # cr*4+cc for cr in 0..3
    want = sum(1 << (cr * 4 + cc) for cr in range(4) for cc in (2, 3))
    assert got[2]["ahash"] == want and got[2]["n_bright"] == 8
    assert got[3]["ahash"] == got[2]["ahash"]  # codec-independent


# ---------------------------------------------------------------------------
# GIF: real variable-width LZW codec
# ---------------------------------------------------------------------------


def _mk_gif_blob(doc_id):
    """The gate's GIF payload for one id, plus its expected BGR pixels."""
    import struct

    import numpy as np

    from blockchain_indexer_spark.operators.multimodal import _gif_lzw_encode

    pal = bytes(
        b for i in range(256) for b in ((7 * i + 3) % 256, (5 * i + 1) % 256, (3 * i + 2) % 256)
    )
    w, h = 8 + doc_id % 29, 8 + doc_id % 17
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    idx = ((doc_id + 3 * r + 7 * c) % 256).astype(np.uint8)
    lzw = _gif_lzw_encode(idx.ravel())
    sub = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255] for i in range(0, len(lzw), 255)
    )
    blob = (
        b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0) + pal
        + b"\x21\xfe\x08decoyGIF\x00" + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + sub + b"\x00\x3b"
    )
    i64 = idx.astype(int)
    want = np.stack(
        [(3 * i64 + 2) % 256, (5 * i64 + 1) % 256, (7 * i64 + 3) % 256], axis=-1
    )
    return blob, w, h, want


def test_gif_decode_exact_pixels_and_extension_skip():
    import numpy as np

    from blockchain_indexer_spark.operators.multimodal import decode_gif

    for doc_id in (0, 7, 123, 355, 499):  # 355: the EOI width-boundary case
        blob, w, h, want = _mk_gif_blob(doc_id)
        ww, hh, px = decode_gif(blob)
        assert (ww, hh) == (w, h)
        assert (px == want).all()


def test_gif_lzw_roundtrip_exercises_width_growth_and_reset():
    import numpy as np

    from blockchain_indexer_spark.operators.multimodal import _gif_lzw_encode

    # the gate's largest image adds >512 table entries → width hits 11;
    # a 100k-symbol random stream forces the 4096-entry CLEAR reset
    rng = np.random.RandomState(2)
    for seq in (
        np.tile(np.arange(256, dtype=np.uint8), 400),
        rng.randint(0, 256, 100_000).astype(np.uint8),
    ):
        enc = _gif_lzw_encode(seq)
        # decode via the public path: wrap as a 1-row ... too wide for
        # GIF u16; decode the raw stream with the module's own logic
        # by building a (n ≤ 65535)-wide strip per 64k chunk
        import struct

        from blockchain_indexer_spark.operators.multimodal import decode_gif

        if len(seq) <= 65535:
            pal = bytes(b for i in range(256) for b in (i, i, i))
            sub = b"".join(
                bytes([len(enc[i : i + 255])]) + enc[i : i + 255]
                for i in range(0, len(enc), 255)
            )
            blob = (
                b"GIF87a" + struct.pack("<HHBBB", len(seq), 1, 0xF7, 0, 0) + pal
                + b"\x2c" + struct.pack("<HHHHB", 0, 0, len(seq), 1, 0)
                + b"\x08" + sub + b"\x00\x3b"
            )
            _, _, px = decode_gif(blob)
            assert (px[0, :, 0] == seq).all()


def test_gif_guards_raise_on_unsupported_variants():
    import struct

    import pytest as _pytest

    from blockchain_indexer_spark.operators.multimodal import decode_gif

    blob, w, h, _ = _mk_gif_blob(3)
    with _pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + blob[6:])
    # flip the interlace bit in the image descriptor; its offset is
    # structural (0x2C bytes also occur inside the palette, so no
    # byte search): header 13 + palette 768 + comment 12 + GCE 8
    pos = 13 + 768 + 12 + 8
    assert blob[pos] == 0x2C
    bad = bytearray(blob)
    bad[pos + 9] |= 0x40
    with _pytest.raises(NotImplementedError):
        decode_gif(bytes(bad))
    # truncate mid-LZW-stream: must raise, not return short pixels
    with _pytest.raises(ValueError):
        decode_gif(blob[: pos + 20])


def test_real_gif_gate_runs_on_spark(spark):
    from blockchain_indexer_spark.operators.multimodal import (
        attach_gif_blob,
        decode_image_real,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 355, 42)], "doc_id long")
    rows = {r["doc_id"]: r for r in decode_image_real(attach_gif_blob(docs)).collect()}
    import numpy as np

    for did in (0, 355, 42):
        _, w, h, want = _mk_gif_blob(did)
        r = rows[did]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert abs(r["mean_b"] - want[:, :, 0].mean()) < 1e-9
        assert abs(r["mean_r"] - want[:, :, 2].mean()) < 1e-9


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
