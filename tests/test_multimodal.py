"""Multimodal binary-column plumbing: Arrow-batched mapInPandas decode
(fixture codec + REAL stdlib PNG codec), pixel-exact PNG filter
reconstruction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    MODALITY_AUDIO,
    MODALITY_IMAGE,
    decode_png,
    encode_fake_image,
    encode_png,
    extract_media_features,
)
from conftest import assert_same_rows, duckdb_frame


def _gradient_raster(w: int, h: int, ch: int) -> bytes:
    return bytes(
        (x * 7 + y * 13 + c * 29) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


_PNG_W, _PNG_H = 9, 7
_PNG_RASTER = _gradient_raster(_PNG_W, _PNG_H, 3)
_REAL_PNG = encode_png(_PNG_W, _PNG_H, _PNG_RASTER, channels=3)


def _media_df(spark):
    rows = [
        (0, encode_fake_image(640, 480, 3, payload=b"x" * 100), "image/fake"),
        (1, encode_fake_image(64, 64, 1), "image/fake"),
        (2, encode_fake_image(0, 0, 0, MODALITY_AUDIO, 441), "audio/fake"),
        (3, _REAL_PNG, "image/png"),           # REAL codec path
        (4, None, "image/fake"),               # null payload
        (5, b"\xff\xd8\xff\xe0JFIF....", "image/jpeg"),  # unsupported
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_extract_media_features(spark):
    feats = {
        r["media_id"]: r.asDict()
        for r in extract_media_features(_media_df(spark)).collect()
    }
    assert feats[0]["width"] == 640 and feats[0]["height"] == 480
    assert feats[0]["n_pixels"] == 640 * 480
    assert feats[0]["payload_bytes"] == 100
    assert feats[0]["decode_ok"] is True
    assert feats[1]["channels"] == 1
    assert feats[2]["modality"] == MODALITY_AUDIO
    # real PNG: IHDR parsed by the stdlib codec
    assert feats[3]["decode_ok"] is True
    assert (feats[3]["width"], feats[3]["height"]) == (_PNG_W, _PNG_H)
    assert feats[3]["channels"] == 3
    assert feats[3]["modality"] == MODALITY_IMAGE
    assert feats[3]["payload_bytes"] == len(_REAL_PNG)
    assert feats[4]["decode_ok"] is False
    # JPEG magic hits the remaining NotImplementedError stub ->
    # recorded as a decode failure, row preserved
    assert feats[5]["decode_ok"] is False and feats[5]["modality"] == -1


def test_png_roundtrip_every_filter_type(spark):
    """encode with each scanline filter (None/Sub/Up/Average/Paeth) ->
    decode must reconstruct the identical raster, for gray, RGB and
    RGBA."""
    for ch in (1, 3, 4):
        raster = _gradient_raster(6, 10, ch)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            blob = encode_png(6, 10, raster, channels=ch, filters=filters)
            w, h, got_ch, got = decode_png(blob)
            assert (w, h, got_ch) == (6, 10, ch)
            assert got == raster, (ch, filters)


def test_png_unsupported_shapes_raise(spark):
    import struct as _s
    import zlib as _z

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, p):
        return _s.pack(">I", len(p)) + t + p + _s.pack(
            ">I", _z.crc32(t + p) & 0xFFFFFFFF
        )

    # palette (ctype 3) and interlaced IHDRs: refused, not mis-decoded
    for ihdr in (
        _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0),   # palette
        _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),   # Adam7 interlace
        _s.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0),   # 4-bit depth
    ):
        blob = sig + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(NotImplementedError):
            decode_png(blob)
    with pytest.raises(NotImplementedError):
        decode_png(b"\xff\xd8\xff\xe0 not a png")


def test_png16_roundtrip_every_filter_type(spark):
    """16-bit PNG (big-endian samples, byte-level filters with a
    2-bytes-per-sample left offset): encode with each filter type ->
    decode must reconstruct the identical sample list, for gray, RGB
    and RGBA, including values above 255 and the full-range corners."""
    for ch in (1, 3, 4):
        samples = [
            (x * 7919 + y * 104729 + c * 65521) % 65536
            for y in range(10)
            for x in range(6)
            for c in range(ch)
        ]
        samples[0], samples[-1] = 0, 65535
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            blob = encode_png(
                6, 10, samples, channels=ch, filters=filters, depth=16
            )
            w, h, got_ch, got = decode_png(blob)
            assert (w, h, got_ch) == (6, 10, ch)
            assert got == samples, (ch, filters)


# ------------------------------------------------------ JPEG header walk

def test_jpeg_header_walk_dims(spark):
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_jpeg_shell,
        jpeg_dims,
    )

    for w, h, ch in [(640, 480, 3), (1, 1, 1), (65535, 1, 4)]:
        assert jpeg_dims(encode_jpeg_shell(w, h, ch)) == (w, h, ch)


def test_jpeg_dispatches_in_media_features(spark):
    """A structurally valid JPEG header stream decodes as an image
    with real dims; malformed/truncated JPEG stays decode_ok=False."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_jpeg_shell,
    )

    rows = [
        (0, encode_jpeg_shell(320, 200, 3), "image/jpeg"),
        (1, b"\xff\xd8\xff\xe0JFIF....", "image/jpeg"),  # truncated
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r.asDict()
             for r in extract_media_features(df).collect()}
    assert feats[0]["decode_ok"] is True
    assert (feats[0]["width"], feats[0]["height"]) == (320, 200)
    assert feats[0]["channels"] == 3
    assert feats[0]["modality"] == MODALITY_IMAGE
    assert feats[1]["decode_ok"] is False


def test_jpeg_malformed_streams_raise(spark):
    import struct as _s

    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_jpeg_shell,
        jpeg_dims,
    )

    with pytest.raises(NotImplementedError):
        jpeg_dims(b"\x89PNG not a jpeg")
    # SOS before any SOF: no frame header
    with pytest.raises(NotImplementedError, match="missing SOF"):
        jpeg_dims(b"\xff\xd8" + b"\xff\xda" + _s.pack(">H", 2))
    # 12-bit precision SOF0: refused, not guessed
    sof = _s.pack(">BHHB", 12, 4, 4, 3)
    blob = b"\xff\xd8" + b"\xff\xc0" + _s.pack(">H", len(sof) + 2) + sof
    with pytest.raises(NotImplementedError, match="precision"):
        jpeg_dims(blob)
    # lossless SOF3: unsupported frame type
    sof = _s.pack(">BHHB", 8, 4, 4, 1)
    blob = b"\xff\xd8" + b"\xff\xc3" + _s.pack(">H", len(sof) + 2) + sof
    with pytest.raises(NotImplementedError, match="frame type"):
        jpeg_dims(blob)
    # desynced marker stream
    with pytest.raises(NotImplementedError, match="desynced"):
        jpeg_dims(b"\xff\xd8" + b"\x00\x00\x00\x00")
    # truncated shell: segment length runs past the buffer
    good = encode_jpeg_shell(64, 64, 3)
    with pytest.raises(NotImplementedError):
        jpeg_dims(good[:10])


def test_extract_prunes_payload_column(spark):
    out = extract_media_features(_media_df(spark))
    assert "content" not in out.columns
    assert out.schema["modality"].dataType.typeName() == "integer"


def test_mapinpandas_partition_behavior(spark):
    """The decode must be a pure per-partition map: repartitioning the
    input must not change the result set (no cross-partition state)."""
    df = _media_df(spark)
    a = {r["media_id"] for r in extract_media_features(df).collect()}
    b = {
        r["media_id"]
        for r in extract_media_features(df.repartition(5)).collect()
    }
    assert a == b == {0, 1, 2, 3, 4, 5}


def test_modality_label_usable_downstream(spark):
    """Extracted metadata joins/classifies like any typed column."""
    feats = extract_media_features(_media_df(spark))
    by_modality = (
        feats.filter(F.col("decode_ok"))
        .groupBy("modality")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["modality"]: r["n"] for r in by_modality}
    assert got == {MODALITY_IMAGE: 3, MODALITY_AUDIO: 1}


def test_q_media_features_matches_closed_form(spark):
    """The registered end-to-end query (synth binary -> mapInPandas
    decode) must equal the closed-form arithmetic oracle."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    sdf = entrymod.queries()["q_media_features"](spark, sf).toPandas()
    odf = duckdb_frame(entrymod.oracle_sql()["q_media_features"], sf)
    assert_same_rows(sdf, odf)


def test_malformed_png_is_decode_failure_not_crash(spark):
    """A blob with a valid PNG signature but truncated/corrupt IHDR
    must surface as decode_ok=False (row preserved), never a
    struct.error that kills the task."""
    import struct as _s

    bad_ihdr = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + b"\x00" * 4
    rows = [
        (0, bad_ihdr, "image/png"),
        (1, _REAL_PNG, "image/png"),
        (2, None, "image/png"),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r.asDict()
             for r in extract_media_features(df).collect()}
    assert feats[0]["decode_ok"] is False
    assert feats[1]["decode_ok"] is True
    assert feats[2]["decode_ok"] is False


# ------------------------------------------------------ real WAV codec

def test_wav_roundtrip_8_and_16_bit(spark):
    """encode -> decode must reproduce the exact sample values for
    16-bit signed and 8-bit unsigned PCM, mono and stereo, including
    the odd-byte-length pad rule."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 100, -100, 32767, -32768, 7, -1]
    for ch in (1, 2):
        usable = samples[: len(samples) - (len(samples) % ch)]
        blob = encode_wav(44100, usable, bits=16, channels=ch)
        sr, got_ch, bits, n_frames, got = decode_wav(blob)
        assert (sr, got_ch, bits) == (44100, ch, 16)
        assert n_frames == len(usable) // ch
        assert got == usable
    # 8-bit: values live in [-128, 127], odd count forces a pad byte
    small = [0, 5, -5, 127, -128, 1, 2]
    blob = encode_wav(8000, small, bits=8, channels=1)
    sr, ch, bits, n_frames, got = decode_wav(blob)
    assert (sr, ch, bits, n_frames) == (8000, 1, 8, 7)
    assert got == small


def test_wav_unsupported_formats_raise(spark):
    import struct as _s

    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    with pytest.raises(NotImplementedError):
        decode_wav(b"OggS this is not RIFF")
    # hand-build an IEEE-float (format 3) fmt chunk: refused, not guessed
    fmt = _s.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (
        b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        + b"data" + _s.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF" + _s.pack("<I", len(body)) + body)
    # truncated container: missing data chunk
    body = b"WAVE" + b"fmt " + _s.pack("<I", 16) + _s.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF" + _s.pack("<I", len(body)) + body)
    # data chunk DECLARES more bytes than the file holds: must flag
    # (decode_ok=false path), never decode as a shorter clip
    good = encode_wav(8000, [0, 100, -100, 50], bits=16)
    assert decode_wav(good)[3] == 4
    with pytest.raises(NotImplementedError, match="truncated"):
        decode_wav(good[:-3])


def test_extract_wav_stats_hand_computed(spark):
    """Level stats on a hand-built clip: mean/RMS/peak are exact
    arithmetic on the sample list."""
    import math as _m

    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_wav,
        extract_wav_stats,
    )

    samples = [3, -3, 4, -4]  # mean 0, rms sqrt(12.5), peak 4
    rows = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(1000, samples, bits=16))),
            (2, bytearray(b"\xff\xd8 not audio")),  # skipped, not crash
            (3, None),
        ],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in extract_wav_stats(rows).collect()}
    assert set(got) == {1}
    r = got[1]
    assert (r.sample_rate, r.channels, r.bits, r.n_frames) == (1000, 1, 16, 4)
    assert r.duration_ms == 4.0
    assert r.mean_sample == 0.0
    assert abs(r.rms - round(_m.sqrt(12.5), 6)) < 1e-12
    assert r.peak == 4


def test_media_features_dispatches_wav_container(spark):
    """A real WAV blob flows through the generic metadata extractor as
    modality=audio with decode_ok=True; payload_bytes counts the whole
    container like PNG."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        MODALITY_AUDIO,
        encode_wav,
        extract_media_features,
    )

    blob = encode_wav(16000, [1, 2, 3, 4, 5, 6], bits=16, channels=2)
    rows = spark.createDataFrame(
        [(9, bytearray(blob))], "media_id long, content binary"
    )
    r = extract_media_features(rows).collect()[0]
    assert r.decode_ok
    assert r.modality == MODALITY_AUDIO
    assert (r.width, r.height, r.channels) == (3, 1, 2)  # frames, 1, ch
    assert r.payload_bytes == len(blob)


def test_q_audio_features_matches_closed_form(spark):
    """The registered query against its DuckDB oracle at sf0.001 —
    value-exact (the driver's check, inlined)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = entrymod.queries()["q_audio_features"](spark, sf).toPandas()
    want = duckdb_frame(entrymod.oracle_sql()["q_audio_features"], sf)
    assert_same_rows(got, want)


# ------------------------------------------------------ perceptual hash

def test_ahash_bits_hand_computed(spark):
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        ahash_bits,
    )

    # mean = 25/4 = 6.25; strict > sets bits for samples 10 and 30
    assert ahash_bits([10, 0, 30, -15], bits=4) == 0b101
    # bit window smaller than the raster: mean still over ALL samples
    assert ahash_bits([10, 0, 30, -15], bits=2) == 0b01
    assert ahash_bits([5, 5, 5, 5], bits=4) == 0  # strict: ties unset


def test_extract_phash_real_decode_path(spark):
    """extract_phash must hash the DECODED pixels — 8-bit and 16-bit
    PNGs with known rasters hash to the locally computed aHash; nulls
    and non-PNG blobs are skipped."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        ahash_bits,
        extract_phash,
    )

    r8 = bytes((i * 37) % 256 for i in range(64))
    r16 = [(i * 1009) % 65536 for i in range(64)]
    rows = [
        (1, bytearray(encode_png(8, 8, r8, channels=1, filters=[2, 4]))),
        (2, bytearray(encode_png(8, 8, r16, channels=1, depth=16))),
        (3, bytearray(b"\xff\xd8 not a png")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r.phash for r in extract_phash(df).collect()}
    assert got == {1: ahash_bits(r8), 2: ahash_bits(r16)}


def test_phash_near_dup_banding_recall(spark):
    """Banding completeness, end to end at sf0.001: the query must
    return EXACTLY the pairs whose closed-form aHashes are within
    hamming 3 (pigeonhole over 4 x 15-bit bands guarantees recall=1;
    the verify step guarantees precision)."""
    import duckdb as _d

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    con = _d.connect()
    doc_ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM '{sf}/documents.parquet'"
        ).fetchall()
    ]
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        PHASH_BITS,
        ahash_bits,
    )

    def raster(d):
        import hashlib as _hl

        g = d // 20
        blocks = [
            _hl.md5(f"{g}:{b}".encode()).hexdigest() for b in range(4)
        ]
        return [
            (int(blocks[i // 16][(i % 16) * 2 : (i % 16) * 2 + 2], 16)
             + ((d % 5) if i == d % 64 else 0)) % 256
            for i in range(64)
        ]

    sigs = {d: ahash_bits(raster(d), bits=PHASH_BITS) for d in doc_ids}
    ids = sorted(doc_ids)
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc1, r.doc2, r.hamming)
        for r in entrymod.queries()["q_phash_near_dup"](spark, sf).collect()
    }
    assert got == want
    assert len(want) > 0  # the fixture must actually exercise the path


def test_avi_mjpeg_roundtrip_and_gates():
    """Container roundtrip is exact for flat-block frames, and every
    dishonest-decode path (wrong handler, truncation, non-AVI RIFF,
    non-JPEG frame chunk) raises NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from activity_classifier_spark_cassandra_spark.operators import multimodal as MM

    frames = [
        MM.encode_jpeg_baseline(np.full((16, 16), 40 + 20 * i, dtype=np.uint8))
        for i in range(5)
    ]
    avi = MM.encode_avi_mjpeg(frames, 16, 16)
    w, h, total, out = MM.decode_avi_mjpeg(avi)
    assert (w, h, total, len(out)) == (16, 16, 5, 5)
    for i, fr in enumerate(out):
        fw, fh, ch, raster = MM.decode_jpeg(fr)
        assert (fw, fh, ch) == (16, 16, 1)
        assert set(raster) == {40 + 20 * i}  # flat blocks decode EXACTLY

    with _pytest.raises(NotImplementedError):
        MM.decode_avi_mjpeg(MM.encode_avi_mjpeg(frames, 16, 16, handler=b"XVID"))
    with _pytest.raises(NotImplementedError):
        MM.decode_avi_mjpeg(avi[:60])
    with _pytest.raises(NotImplementedError):
        MM.decode_avi_mjpeg(b"RIFF" + avi[4:8] + b"WAVE" + avi[12:])
    # non-JPEG frame chunk
    junk = MM.encode_avi_mjpeg([b"\x00\x01notajpeg"], 16, 16)
    with _pytest.raises(NotImplementedError):
        MM.decode_avi_mjpeg(junk)


def test_q_video_frames_contract(spark):
    """Sampling + decode_ok contract: decodable clips emit exactly
    frames 0/3/6 with exact per-frame means; every 7th doc surfaces
    ONE decode_ok=false zeroed row; no other rows exist."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        VIDEO_N_FRAMES,
        VIDEO_SAMPLE_EVERY,
        q_video_frames,
    )

    out = q_video_frames(spark, "/root/testdata/sf0.001").toPandas()
    bad = out[~out.decode_ok]
    ok = out[out.decode_ok]
    assert (bad.media_id % 7 == 0).all()
    assert (bad.frame_idx == -1).all() and (bad.mean_value == 0).all()
    assert not (ok.media_id % 7 == 0).any()
    want_idx = set(range(0, VIDEO_N_FRAMES, VIDEO_SAMPLE_EVERY))
    assert set(ok.frame_idx) == want_idx
    assert (ok.groupby("media_id").frame_idx.nunique() == len(want_idx)).all()
    # exact analytic mean for one (doc, frame)
    import pyarrow.parquet as pq

    docs = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "n_chars"]
    ).to_pandas()
    d = int(ok.media_id.iloc[0])
    n = int(docs.set_index("doc_id").loc[d, "n_chars"])
    f = int(ok[ok.media_id == d].frame_idx.iloc[0])
    want = (
        sum(
            128 + 2 * (((d * 31 + f * 23 + b * 17 + n) % 128) - 64)
            for b in range(4)
        )
        / 4
    )
    got = float(
        ok[(ok.media_id == d) & (ok.frame_idx == f)].mean_value.iloc[0]
    )
    assert got == want


def _clip_rows(spark, *rows):
    return spark.createDataFrame(list(rows), "media_id long, content binary")


def test_video_clip_with_a_corrupt_sampled_frame_is_one_failure(spark):
    """A clip whose sampled frame 3 is a truncated JPEG is one failed
    blob: extract_video_frame_stats gives exactly ONE decode_ok=false
    row for it (no frame-0 row beside it), and extract_video_phash
    gives no rows (no partial hash list for the dedup queries)."""
    import numpy as np

    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_baseline,
        extract_video_frame_stats,
        extract_video_phash,
    )

    frames = [
        encode_jpeg_baseline(np.full((16, 16), 40 + 20 * i, dtype=np.uint8))
        for i in range(4)
    ]
    frames[3] = frames[3][:40]
    df = _clip_rows(spark, (7, bytearray(encode_avi_mjpeg(frames, 16, 16))))
    stats = [r.asDict() for r in extract_video_frame_stats(df).collect()]
    assert stats == [
        {"media_id": 7, "frame_idx": -1, "width": 0, "height": 0,
         "mean_value": 0.0, "decode_ok": False}
    ]
    assert extract_video_phash(df).collect() == []


def test_video_frame_stats_null_content_is_one_failure_row(spark):
    """A null payload is a failed blob like any undecodable one: one
    decode_ok=false row, beside the decoded clip's sampled frames."""
    import numpy as np

    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_baseline,
        extract_video_frame_stats,
    )

    frame = encode_jpeg_baseline(np.full((16, 16), 90, dtype=np.uint8))
    df = _clip_rows(
        spark, (1, bytearray(encode_avi_mjpeg([frame] * 4, 16, 16))), (2, None)
    )
    got = sorted(
        (r.media_id, r.frame_idx, r.decode_ok)
        for r in extract_video_frame_stats(df).collect()
    )
    assert got == [(1, 0, True), (1, 3, True), (2, -1, False)]


def test_one_decode_stage_and_one_error_handler():
    """Every extractor runs on the module's one Arrow decode stage, and
    the codec error contract is handled in one place: a second
    ``mapInPandas(`` or ``except NotImplementedError`` in
    operators/multimodal.py is a hand-rolled extractor loop."""
    from pathlib import Path

    from activity_classifier_spark_cassandra_spark.operators import multimodal

    src = Path(multimodal.__file__).read_text()
    assert src.count("mapInPandas(") <= 1
    assert src.count("except NotImplementedError") <= 1


def test_q_video_near_dup_groups_reencodes(spark):
    """Brightness-shifted re-encodes of the same clip content (every 3
    consecutive doc_ids) must share a signature with keep on the
    lowest id; byte-level content differs (the shift IS in the pixels)
    so only the perceptual path can group them."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        _encode_avi_dup_udf,
        q_video_near_dup,
    )
    from pyspark.sql import functions as F2

    out = q_video_near_dup(spark, "/root/testdata/sf0.001").toPandas()
    out["page"] = out.media_id // 3
    # page-mates share the signature...
    assert (out.groupby("page").sig.nunique() == 1).all()
    # ...and keep goes to the page's lowest id (unless an EARLIER page
    # collides on the perceptual signature — then that page's first
    # wins; verify keep == global min per sig either way)
    kept = out[out.keep].groupby("sig").media_id.min()
    assert (out.groupby("sig").media_id.min() == kept).all()
    assert (out.groupby("sig").keep.sum() == 1).all()
    # byte-level inequality of two page-mates (brightness is real)
    docs = spark.range(2).select(
        F2.col("id").alias("doc_id"),
        _encode_avi_dup_udf(F2.col("id")).alias("c"),
    ).collect()
    assert bytes(docs[0]["c"]) != bytes(docs[1]["c"])


def test_video_shingle_dedup_catches_trimmed_clip(spark):
    """A re-cut clip (first frame dropped) shares NO full-sequence
    signature with its source — the sequence path provably keeps
    both — but shares k-frame shingles, so the shingle band drops it.
    An unrelated clip survives."""
    import numpy as np
    from pyspark.sql import Row
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        VIDEO_SHINGLE_K,
        encode_avi_mjpeg,
        encode_jpeg_baseline,
        extract_video_phash,
        video_shingle_dedup,
    )

    def frame(seed: int) -> bytes:
        img = np.zeros((16, 16), dtype=np.uint8)
        for b, (by, bx) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
            img[by : by + 8, bx : bx + 8] = 128 + 2 * (
                ((seed * 31 + b * 17) % 124) - 62
            )
        return encode_jpeg_baseline(img)

    full = [frame(f) for f in range(8)]
    clips = [
        Row(media_id=0, content=encode_avi_mjpeg(full, 16, 16)),
        # trimmed re-cut: first frame dropped
        Row(media_id=1, content=encode_avi_mjpeg(full[1:], 16, 16)),
        # unrelated content: FLAT frames hash to 0 every frame, so
        # its only shingle (0:0:0:0) is provably outside clip 0's
        # shingle set {0003, 3000, 0300, 0030} — the 4-value aHash
        # alphabet makes "random other frames" collide
        Row(
            media_id=2,
            content=encode_avi_mjpeg(
                [
                    encode_jpeg_baseline(
                        np.full((16, 16), 128, dtype=np.uint8)
                    )
                ]
                * 8,
                16,
                16,
            ),
        ),
    ]
    ph = extract_video_phash(spark.createDataFrame(clips))

    # the full-sequence signature MISSES the trim: 0 and 1 differ
    sigs = (
        ph.groupBy("media_id")
        .agg(
            __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
                "array_join(transform(array_sort("
                "collect_list(struct(frame_idx, phash))),"
                " x -> concat(CAST(x.frame_idx AS STRING), ':',"
                " CAST(x.phash AS STRING))), ',')"
            ).alias("sig")
        )
        .toPandas()
        .set_index("media_id")["sig"]
    )
    assert sigs[0] != sigs[1]

    out = (
        video_shingle_dedup(ph, k=VIDEO_SHINGLE_K)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    assert bool(out.loc[0, "keep"]) is True
    assert bool(out.loc[1, "keep"]) is False and out.loc[1, "first_id"] == 0
    assert bool(out.loc[2, "keep"]) is True


def test_q_video_near_dup_shingle_groups_pages(spark):
    """Registry synthesis: per page, the original (v0), the
    brightness re-encode (v1), AND the trimmed re-cut (v2) all
    collapse onto the page's lowest id (modulo earlier-page
    perceptual collisions: keep == group-min always holds)."""
    from activity_classifier_spark_cassandra_spark.operators.multimodal import (
        q_video_near_dup_shingle,
    )

    out = q_video_near_dup_shingle(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(out) == out.media_id.nunique()
    # keep is exactly "I am my own group minimum"
    assert (out.keep == (out.media_id == out.first_id)).all()
    # every non-keeper points at an EARLIER clip
    assert (out[~out.keep].first_id < out[~out.keep].media_id).all()
    # page-mates (incl. the trim) always land in one group
    out["page"] = out.media_id // 3
    assert (out.groupby("page").first_id.nunique() == 1).all()


def test_codec_cache_roundtrip_and_bounds():
    """The per-worker codec memo returns byte-identical results to an
    uncached pass, never caches oversized payloads, and stays within
    its LRU bound."""
    import numpy as np

    from activity_classifier_spark_cassandra_spark.operators import (
        multimodal as MM,
    )

    MM._ENC_CACHE.clear()
    MM._DEC_CACHE.clear()
    before = MM.codec_cache_stats()
    img = np.full((16, 16), 99, dtype=np.uint8)
    img[:8, :8] = 37
    first = MM.encode_jpeg_baseline(img)
    assert len(MM._ENC_CACHE) == 1
    assert MM.encode_jpeg_baseline(img) == first  # hit == fresh bytes

    dec1 = MM.decode_jpeg(first)
    assert len(MM._DEC_CACHE) == 1
    assert MM.decode_jpeg(first) == dec1  # hit == fresh tuple
    assert MM.decode_jpeg(first) == dec1

    # encoder and decoder traffic are counted apart: one encode miss +
    # one hit, one decode miss + two hits
    after = MM.codec_cache_stats()
    for side, hits in (("encode", 1), ("decode", 2)):
        a, b = after[side], before[side]
        assert (a["hits"] - b["hits"], a["misses"] - b["misses"]) == (hits, 1)
        assert a["hit_rate"] == round(a["hits"] / (a["hits"] + a["misses"]), 4)

    # distinct pixels -> distinct entry, distinct jpeg
    img2 = img.copy()
    img2[8:, 8:] = 201
    second = MM.encode_jpeg_baseline(img2)
    assert second != first and len(MM._ENC_CACHE) == 2

    # oversized payloads are never cached (64x64x3 > the byte bound)
    big = np.zeros((64, 64, 3), dtype=np.uint8)
    MM.encode_jpeg_baseline(big)
    assert len(MM._ENC_CACHE) == 2

    # LRU bound holds under churn
    for v in range(MM._CODEC_CACHE_SIZE + 50):
        i = np.full((8, 8), v % 256, dtype=np.uint8)
        i[0, 0] = (v * 7) % 256
        i[0, 1] = v // 256
        MM.encode_jpeg_baseline(i)
    assert len(MM._ENC_CACHE) <= MM._CODEC_CACHE_SIZE
    MM._ENC_CACHE.clear()
    MM._DEC_CACHE.clear()
