"""Baseline JPEG codec (operators/multimodal.py): encoder/decoder
pinned against independent direct-formula DCT/IDCT implementations
(quadruple cosine loops, not the codec's matrix path)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from activity_classifier_spark_cassandra_spark.operators import multimodal as MM


def _idct_direct(coef: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 IDCT as the literal double sum."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu
                        * cv
                        * coef[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = s / 4.0
    return out


def _textured(seed: int) -> np.ndarray:
    """Deterministic 16x16 textured grayscale image."""
    g = np.zeros((16, 16), dtype=np.uint8)
    for i in range(16):
        for j in range(16):
            g[i, j] = (seed * 37 + i * 13 + j * 7 + (i * j) % 11) % 256
    return g


def test_flat_blocks_roundtrip_exact():
    img = np.zeros((16, 16), dtype=np.uint8)
    vals = [0, 62, 128, 254]  # even offsets from 128
    for b, (by, bx) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
        img[by : by + 8, bx : bx + 8] = vals[b]
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    assert (w, h, c) == (16, 16, 1)
    out = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16)
    assert (out == img).all()


def test_flat_ycbcr_color_matches_jfif_formula():
    y0, cb, cr = 90, 128 + 17 * 3, 128 - 17 * 5
    img = np.stack(
        [
            np.full((8, 8), y0, dtype=np.uint8),
            np.full((8, 8), cb, dtype=np.uint8),
            np.full((8, 8), cr, dtype=np.uint8),
        ],
        axis=-1,
    )
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img, ycbcr=True))
    assert (w, h, c) == (8, 8, 3)
    out = np.frombuffer(raster, dtype=np.uint8).reshape(8, 8, 3)
    r = int(np.clip(math.floor(y0 + 1.402 * (cr - 128) + 0.5), 0, 255))
    g = int(
        np.clip(
            math.floor(
                y0 - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
            ),
            0,
            255,
        )
    )
    b = int(np.clip(math.floor(y0 + 1.772 * (cb - 128) + 0.5), 0, 255))
    assert (out.reshape(-1, 3) == [r, g, b]).all()


def test_textured_decode_matches_direct_idct():
    """Decode of a real entropy-coded textured image must match the
    independent direct-sum IDCT reconstruction on every pixel (allow
    the odd 1-count difference at float rounding boundaries)."""
    img = _textured(5)
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    got = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16).astype(int)

    # independent path: same quantized coefficients, direct IDCT
    want = np.zeros((16, 16), dtype=int)
    q = np.array(MM._QT_LUMA, dtype=np.float64).reshape(8, 8)
    for by in (0, 8):
        for bx in (0, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            # direct DCT
            coef = np.zeros((8, 8))
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s = sum(
                        blk[x, y]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                        for x in range(8)
                        for y in range(8)
                    )
                    coef[u, v] = cu * cv * s / 4.0
            qc = np.floor(coef / q + 0.5)
            rec = _idct_direct(qc * q)
            want[by : by + 8, bx : bx + 8] = np.clip(
                np.floor(rec + 128.5), 0, 255
            ).astype(int)
    diff = np.abs(got - want)
    assert (diff <= 1).all(), diff.max()
    assert (diff == 0).mean() > 0.95


def test_rgb_gradient_roundtrip_close():
    """Smooth RGB gradient survives encode/decode within small
    quantization error (sanity that the color path is wired, not an
    exactness pin)."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    for i in range(16):
        for j in range(16):
            img[i, j] = (100 + 2 * i, 80 + 3 * j, 120 + i + j)
    w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
    out = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16, 3).astype(int)
    assert np.abs(out - img.astype(int)).max() <= 12


def test_header_walk_agrees_with_full_decoder():
    img = _textured(9)
    blob = MM.encode_jpeg_baseline(img)
    assert MM.jpeg_dims(blob) == (16, 16, 1)


def test_unsupported_surfaces_raise():
    img = _textured(3)
    blob = bytearray(MM.encode_jpeg_baseline(img))
    # progressive: flip SOF0 marker to SOF2
    i = blob.find(b"\xff\xc0")
    prog = bytes(blob[:i]) + b"\xff\xc2" + bytes(blob[i + 2 :])
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(prog)
    # subsampled chroma: hand-build an SOF with 2x2 luma sampling
    color = MM.encode_jpeg_baseline(
        np.zeros((8, 8, 3), dtype=np.uint8), ycbcr=True
    )
    j = color.find(b"\xff\xc0")
    sub = bytearray(color)
    sub[j + 11] = 0x22  # component 1 sampling 2x2
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bytes(sub))
    # truncated entropy stream
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bytes(blob[:-20]))
    # nonzero restart interval
    dri = (
        bytes(blob[:i])
        + b"\xff\xdd" + struct.pack(">HH", 4, 8)
        + bytes(blob[i:])
    )
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(dri)


def test_huffman_tables_roundtrip():
    for bits, vals in (
        MM._HT_DC_LUMA,
        MM._HT_AC_LUMA,
        MM._HT_DC_CHROMA,
        MM._HT_AC_CHROMA,
    ):
        enc = MM._huff_codes(bits, vals)
        dec = MM._huff_decode_table(bits, vals)
        assert len(enc) == len(vals)
        for sym, lc in enc.items():
            assert dec[lc] == sym


def test_random_images_match_independent_reconstruction():
    """Property: for deterministic pseudo-random 16x16 grayscale
    images, decode(encode(x)) equals the independent reconstruction
    (direct-formula DCT -> quantize -> direct-formula IDCT) on >=95%
    of pixels with max deviation 1 (float rounding boundaries)."""
    q = np.array(MM._QT_LUMA, dtype=np.float64).reshape(8, 8)
    for seed in range(6):
        img = _textured(seed * 17 + 1)
        w, h, c, raster = MM.decode_jpeg(MM.encode_jpeg_baseline(img))
        got = np.frombuffer(raster, dtype=np.uint8).reshape(16, 16).astype(int)
        want = np.zeros((16, 16), dtype=int)
        for by in (0, 8):
            for bx in (0, 8):
                blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
                coef = np.zeros((8, 8))
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        coef[u, v] = (
                            cu * cv / 4.0
                            * sum(
                                blk[x, y]
                                * math.cos((2 * x + 1) * u * math.pi / 16)
                                * math.cos((2 * y + 1) * v * math.pi / 16)
                                for x in range(8)
                                for y in range(8)
                            )
                        )
                rec = _idct_direct(np.floor(coef / q + 0.5) * q)
                want[by : by + 8, bx : bx + 8] = np.clip(
                    np.floor(rec + 128.5), 0, 255
                ).astype(int)
        diff = np.abs(got - want)
        assert (diff <= 1).all(), (seed, diff.max())
        assert (diff == 0).mean() >= 0.95, (seed, (diff == 0).mean())


def test_malformed_streams_raise_notimplemented_not_crash():
    """ADVICE r8: a corrupt real-world JPEG must surface as the
    documented NotImplementedError (-> decode_ok=False row), never as
    struct.error / IndexError / StopIteration, which would kill the
    whole Spark task inside the mapInPandas generator."""
    img = _textured(7)
    blob = bytearray(MM.encode_jpeg_baseline(img))

    def corrupt_sof_short():
        # SOF segment with length 5 (2 < ln < 8): short unpack
        i = blob.find(b"\xff\xc0")
        return bytes(blob[:i]) + b"\xff\xc0" + struct.pack(">H", 5) + b"\x08\x00\x08" + bytes(blob[i:])

    def corrupt_sos_short():
        # SOS claiming 3 scan components but a 3-byte body
        i = blob.find(b"\xff\xda")
        return bytes(blob[:i]) + b"\xff\xda" + struct.pack(">H", 4) + b"\x03\x01" + bytes(blob[i:])

    def corrupt_sos_unknown_component():
        # scan references component id 9 that no SOF declared
        i = blob.find(b"\xff\xda")
        out = bytearray(blob)
        out[i + 5] = 9  # first scan component selector
        return bytes(out)

    def corrupt_dri_short():
        i = blob.find(b"\xff\xc0")
        return bytes(blob[:i]) + b"\xff\xdd" + struct.pack(">H", 3) + b"\x00" + bytes(blob[i:])

    def truncated_mid_segment():
        return bytes(blob[: blob.find(b"\xff\xc4") + 5])

    for make in (
        corrupt_sof_short,
        corrupt_sos_short,
        corrupt_sos_unknown_component,
        corrupt_dri_short,
        truncated_mid_segment,
    ):
        with pytest.raises(NotImplementedError):
            MM.decode_jpeg(make())

    # random byte garbage after a valid SOI: anything goes, but it
    # must come out as NotImplementedError
    rng = np.random.default_rng(0)
    for _ in range(25):
        junk = b"\xff\xd8" + rng.integers(0, 256, 120, dtype=np.uint8).tobytes()
        try:
            MM.decode_jpeg(junk)
        except NotImplementedError:
            pass


def test_corrupt_dht_category_overflow_is_notimplemented():
    """A single-byte flip inside the luma DC DHT values (offset 200 of
    a 16x16 RGB blob) declares a DC category past 63; the magnitude it
    builds overflows int64.  That must surface as NotImplementedError
    (-> decode_ok=False row), never as OverflowError."""
    img = np.random.default_rng(0).integers(0, 256, (16, 16, 3), dtype=np.uint8)
    blob = bytearray(MM.encode_jpeg_baseline(img))
    blob[200] ^= 0x42
    MM._DEC_CACHE.clear()
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bytes(blob))


def test_decoders_byte_flip_fuzz_only_notimplemented_escapes():
    """Seeded byte-flip fuzz over every pure-Python decoder: whatever a
    corrupt payload does, the only exception that may escape is the
    documented NotImplementedError."""
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    jpg = MM.encode_jpeg_baseline(img)
    pcm = [int(x) for x in rng.integers(-3000, 3000, 64)]
    png = MM.encode_png(16, 16, img.tobytes(), filters=[0, 1, 2, 3] * 4)
    wav = MM.encode_wav(8000, pcm)
    cases = [
        (MM.decode_jpeg, jpg, 2000),
        (MM.decode_png, png, 500),
        (MM.decode_wav, wav, 500),
        (MM.decode_avi_mjpeg, MM.encode_avi_mjpeg([jpg, jpg], 16, 16), 500),
        # the header dispatcher: FIMG fixture, PNG IHDR, RIFF/WAVE, JPEG SOF walk
        (MM._decode_header, MM.encode_fake_image(16, 16, payload=b"x" * 32), 500),
        (MM._decode_header, png, 500),
        (MM._decode_header, wav, 500),
        (MM._decode_header, jpg, 500),
    ]
    flips = np.random.default_rng(1)
    for decode, blob, trials in cases:
        decode(blob)  # the unflipped payload decodes
        for trial in range(trials):
            b = bytearray(blob)
            for _ in range(1 + trial % 2):
                b[int(flips.integers(len(b)))] ^= int(flips.integers(1, 256))
            MM._DEC_CACHE.clear()
            try:
                decode(bytes(b))
            except NotImplementedError:
                pass


def test_short_avih_is_notimplemented():
    """An AVI whose ``avih`` chunk is shorter than its 56 bytes is a
    corrupt header: it must surface as NotImplementedError, never as
    the struct.error of a short read, which would fail the Spark task."""
    avih = MM._riff_chunk(b"avih", struct.pack("<4I", 100_000, 0, 0, 0))
    avi = MM._riff_chunk(b"RIFF", b"AVI " + MM._riff_list(b"hdrl", avih))
    MM._DEC_CACHE.clear()
    with pytest.raises(NotImplementedError):
        MM.decode_avi_mjpeg(avi)
