"""Bit-exactness of the numpy codec arm (functions/codec_np.py) against
the scalar spec-reference decoders — every payload family the vendored
ladder accepts must decode to IDENTICAL pixels and features on both arms.
The np arm exists purely for throughput; any divergence is a bug in the vectorization, never a tolerance.
"""

import numpy as np
import pytest

from hiero_spark.functions import codec_np, multimodal as mm
from hiero_spark.functions.jpeg import decode_jpeg, encode_jpeg
from tests.test_multimodal_codecs import _make_adam7_png, _make_png


def _rows_to_array(decoded):
    w, h, rows = decoded
    return np.array(rows, dtype=np.uint8).reshape(h, w, 3)


def _assert_same(payload, np_decoder):
    scalar = (
        mm._decode_bmp(payload)
        or mm._decode_png(payload)
        or decode_jpeg(payload)
    )
    fast = np_decoder(payload)
    assert (scalar is None) == (fast is None)
    if scalar is None:
        return
    w, h, arr = fast
    assert (w, h) == (scalar[0], scalar[1])
    assert arr.dtype == np.uint8 and arr.shape == (h, w, 3)
    mismatch = np.argwhere(_rows_to_array(scalar) != arr)
    assert mismatch.size == 0, (
        f"pixel divergence at {mismatch[:5].tolist()}"
    )
    # and the vectorized features match the scalar integer math exactly
    assert codec_np.features_np(fast) == mm._bmp_features(scalar)


def _gradient(w, h, seed):
    return [
        [
            (
                (x * 2 + seed * 7) % 256,
                (y * 2 + seed * 13) % 256,
                (x + y + seed * 29) % 256,
            )
            for x in range(w)
        ]
        for y in range(h)
    ]


@pytest.mark.parametrize("size", [(8, 8), (17, 9), (24, 16), (96, 96)])
@pytest.mark.parametrize("quality", [50, 75, 95])
def test_jpeg_arms_agree(size, quality):
    w, h = size
    _assert_same(
        encode_jpeg(_gradient(w, h, quality), quality=quality),
        codec_np.decode_jpeg_np,
    )


def test_jpeg_gray_420_and_progressive_hand_vectors_agree():
    """The hand-vector payload families from test_multimodal_codecs,
    rebuilt with its helpers: gray single-block (1-component assembly),
    4:2:0 chroma (subsampled upsampling indices), and a progressive
    4-scan stream (the qtables-bearing assembly input)."""
    import struct

    from hiero_spark.functions import jpeg as jp
    from tests import test_multimodal_codecs as tc

    bits = tc._TestBits()
    bits.put("100101" + "1010")  # DC cat 3 -> +5, then EOB
    gray = (
        b"\xff\xd8"
        + tc._dqt_all_ones(0)
        + tc._seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + tc._dht(0, 0, jp.DC_LUM) + tc._dht(1, 0, jp.AC_LUM)
        + tc._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bits.bytes() + b"\xff\xd9"
    )
    _assert_same(gray, codec_np.decode_jpeg_np)

    bits = tc._TestBits()
    bits.put("100101" + "1010")
    for _ in range(3):
        bits.put("00" + "1010")
    bits.put("00" + "00")
    bits.put("1110" + "1000" + "00")
    chroma420 = (
        b"\xff\xd8"
        + tc._dqt_all_ones(0) + tc._dqt_all_ones(1)
        + tc._seg(
            0xC0,
            struct.pack(">BHHB", 8, 16, 16, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + tc._dht(0, 0, jp.DC_LUM) + tc._dht(1, 0, jp.AC_LUM)
        + tc._dht(0, 1, jp.DC_CHR) + tc._dht(1, 1, jp.AC_CHR)
        + tc._seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + bits.bytes() + b"\xff\xd9"
    )
    _assert_same(chroma420, codec_np.decode_jpeg_np)

    dc, ac = tc._p_tables()
    w1 = jp._BitWriter()  # DC first scan, Al=1: encode 8 >> 1 = 4
    t, m = jp._magnitude(4)
    length, code = dc[t]
    w1.put(code, length)
    w1.put(m, t)
    w2 = jp._BitWriter()  # AC first scan, Al=1: zig1 = 3 >> 1 = 1
    t, m = jp._magnitude(1)
    length, code = ac[t]
    w2.put(code, length)
    w2.put(m, t)
    length, code = ac[0x00]
    w2.put(code, length)
    progressive = (
        tc._p_headers(8, 8, [(1, 0x11)])
        + tc._p_sos([1], 0, 0, 0, 1, w1)
        + tc._p_sos([1], 1, 63, 0, 1, w2)
        + b"\xff\xd9"
    )
    _assert_same(progressive, codec_np.decode_jpeg_np)


@pytest.mark.parametrize("filters", [[0, 0, 0, 0, 0], [0, 1, 2, 3, 4],
                                     [4, 4, 4, 4, 4], [1, 3, 1, 3, 2]])
def test_png_filters_agree(filters):
    px = [[((x * 37 + y * 91) % 256, (x * 3) % 256, (y * 5 + x) % 256)
           for x in range(7)] for y in range(5)]
    _assert_same(_make_png(px, filters=filters), codec_np.decode_png_np)


def test_png_gray_rgba_and_adam7_agree():
    gray = [[(v % 256,) for v in range(x, x + 6)] for x in range(0, 40, 10)]
    _assert_same(_make_png(gray, color_type=0), codec_np.decode_png_np)
    rgba = [[(x * 9 % 256, y * 7 % 256, 77, (x + y) % 256)
             for x in range(5)] for y in range(3)]
    _assert_same(_make_png(rgba, color_type=6), codec_np.decode_png_np)
    pix = [[(x * 30 % 256, y * 30 % 256, (x + y) * 15 % 256)
            for x in range(8)] for y in range(8)]
    _assert_same(_make_adam7_png(pix), codec_np.decode_png_np)
    # odd size: some Adam7 passes are empty
    pix53 = [[(x * 50 % 256, y * 60 % 256, 5) for x in range(5)]
             for y in range(3)]
    _assert_same(_make_adam7_png(pix53), codec_np.decode_png_np)


def test_bmp_arms_agree():
    _assert_same(mm._encode_bmp(_gradient(9, 4, 3)), codec_np.decode_bmp_np)
    _assert_same(mm._encode_bmp(_gradient(32, 32, 1)), codec_np.decode_bmp_np)


def test_rejects_agree_and_fall_through():
    for junk in (b"", b"not an image at all", b"\x89PNG\r\n\x1a\n<trunc>"):
        assert codec_np.decode_pixels_np(junk) is None
    # decode_image end-to-end still stubs out on junk and takes the np
    # arm on real payloads (same features as the scalar ladder)
    payload = encode_jpeg(_gradient(16, 16, 5))
    scalar = mm._bmp_features(decode_jpeg(payload))
    assert mm.decode_image(payload) == scalar
    assert mm.decode_image(b"junkjunk") == mm.decode_image_stub(b"junkjunk")


def test_ahash_mean_luma_and_resize_agree():
    """The downstream per-pixel consumers that run the np arm — average
    hash, frame mean luma, nearest-neighbor resize — must match their
    scalar twins exactly on every codec family."""
    payloads = [
        mm._encode_bmp(_gradient(31, 17, 2)),
        _make_png(_gradient(24, 15, 9), filters=[4] * 15),
        encode_jpeg(_gradient(40, 28, 4), quality=80),
    ]
    for payload in payloads:
        scalar = (
            mm._decode_bmp(payload)
            or mm._decode_png(payload)
            or decode_jpeg(payload)
        )
        fast = codec_np.decode_pixels_np(payload)
        assert codec_np.ahash_ints_np(fast) == mm._ahash_ints(scalar)
        assert mm._decode_and_ahash(payload) == mm._ahash_ints(scalar)
        w0, h0, rows = scalar
        acc = sum(
            (299 * r + 587 * g + 114 * b) // 1000
            for row in rows for r, g, b in row
        )
        assert codec_np.mean_luma_np(fast) == acc // (w0 * h0)
        for width, height in ((8, 8), (13, 5)):
            want = [
                [list(rows[(r * h0) // height][(c * w0) // width])
                 for c in range(width)]
                for r in range(height)
            ]
            assert codec_np.nn_resize_rows(fast, width, height) == want
    assert mm._decode_and_ahash(b"not an image") is None
    assert mm._frame_mean_luma(b"junk") is None


def test_decode_image_serves_the_np_arm(monkeypatch):
    """decode_image's production ladder must TAKE the numpy arm (not
    merely agree with it) — if the np-first wiring regresses to the
    scalar ladder, only throughput dies and no equality test notices."""
    calls = {"n": 0}
    real = codec_np.decode_pixels_np

    def spy(payload):
        calls["n"] += 1
        return real(payload)

    monkeypatch.setattr(codec_np, "decode_pixels_np", spy)
    payload = encode_jpeg(_gradient(16, 16, 1))
    assert mm.decode_image(payload)[3] == 1.0  # real-decode marker
    assert calls["n"] == 1


def test_idct_batch_matches_scalar_bit_exactly():
    """Random dequantized-coefficient blocks through the batched IDCT vs
    the scalar separable IDCT: RAW float equality, not just rounded —
    the vectorization reproduces the scalar product grouping and
    accumulation order, so .5-tie level-shift rounding can never flip
    (a plain matmul fails this: it regroups products and reorders
    sums, observed to move -31.5 to -31.50000000000001)."""
    rng = np.random.RandomState(7)
    coefs = rng.randint(-1024, 1024, size=(64, 64)).astype(np.float64)
    px_np = codec_np._idct_batch(coefs.reshape(-1, 8, 8))
    from hiero_spark.functions.jpeg import _idct_2d

    for bi in range(64):
        assert px_np[bi].reshape(64).tolist() == _idct_2d(list(coefs[bi]))


def test_wav_np_arm_bit_exact_and_served():
    """Audio np arm: decode_wav_np + wav_features_np must be
    BIT-identical to the scalar _decode_wav + _wav_features on PCM16
    payloads — mono, stereo, 3-channel, odd trailing byte, empty data —
    and decode_audio's production ladder must TAKE the np arm."""
    from tests.test_multimodal_codecs import _make_wav

    payloads = [
        _make_wav([((-1) ** i * (i * 997 % 32768),) for i in range(1000)]),
        _make_wav([(i * 31 % 32768 - 16384, -i * 17 % 32768 + 1)
                   for i in range(501)], rate=16000, channels=2),
        _make_wav([(5, -7, 32767 - i) for i in range(90)], channels=3),
        _make_wav([], rate=8000),
    ]
    for payload in payloads:
        scalar = mm._decode_wav(payload)
        fast = codec_np.decode_wav_np(payload)
        assert (scalar is None) == (fast is None)
        if scalar is None:
            continue
        s_mono, s_rate, s_ch = scalar
        f_mono, f_rate, f_ch = fast
        assert (s_rate, s_ch) == (f_rate, f_ch)
        assert list(f_mono) == s_mono  # bit-exact mixdown
        assert codec_np.wav_features_np(f_mono, f_rate, f_ch) == \
            mm._wav_features(s_mono, s_rate, s_ch)
        assert mm.decode_audio(payload) == mm._wav_features(*scalar)
    # junk and ADPCM stay off the np arm
    assert codec_np.decode_wav_np(b"RIFFxxxxWAVEjunk") is None
    pcm = [((i * 37) % 4096 - 2048) for i in range(200)]
    adpcm = mm._encode_wav_ima(pcm)
    assert codec_np.decode_wav_np(adpcm) is None  # audio_fmt != 1
    assert mm.decode_audio(adpcm) == mm._wav_features(*mm._decode_wav_ima(adpcm))


def test_decode_audio_serves_the_wav_np_arm(monkeypatch):
    calls = {"n": 0}
    real = codec_np.decode_wav_np

    def spy(payload):
        calls["n"] += 1
        return real(payload)

    monkeypatch.setattr(codec_np, "decode_wav_np", spy)
    from tests.test_multimodal_codecs import _make_wav

    payload = _make_wav([(1000 * (-1) ** i,) for i in range(300)])
    feat = mm.decode_audio(payload)
    assert calls["n"] == 1 and len(feat) == 8


def test_frame_and_audio_operators_match_scalar_reference(spark):
    """sample_frames, spectral_features and audio_window_signatures run
    the numpy decode; on synthetic media (BMP/PNG/JPEG frames, PCM16
    mono/stereo and IMA-ADPCM clips, junk) their rows must equal the
    same per-row math over the scalar reference decoders."""
    from pyspark.sql import functions as F

    from tests.test_multimodal_codecs import _make_wav

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    mixed = mm.encode_framepack([
        mm._encode_bmp(_gradient(9, 7, 1)),
        mm._encode_png(_gradient(6, 5, 2)),
        encode_jpeg(_gradient(17, 9, 3), quality=75),
        encode_jpeg(_gradient(8, 8, 4), quality=95),
        mm._encode_png(_gradient(3, 4, 5)),
    ])
    extra = spark.createDataFrame(
        [(100, bytearray(mixed)), (101, bytearray(b"not media")), (102, None)],
        "media_id long, payload binary",
    )
    video = mm.synthetic_pattern_video(docs).unionByName(extra)
    pcm = [((i * 37) % 4096 - 2048) for i in range(700)]
    clips = spark.createDataFrame(
        [
            (200, bytearray(mm._encode_wav_ima(pcm))),
            (201, bytearray(_make_wav(
                [(i * 31 % 32768 - 16384, -i * 17 % 32768 + 1)
                 for i in range(600)], rate=16000, channels=2))),
        ],
        "media_id long, payload binary",
    )
    audio = (
        mm.synthetic_tone_media(docs)
        .unionByName(mm.synthetic_segment_audio(docs).withColumn(
            "media_id", F.col("media_id") + 50))
        .unionByName(clips)
        .unionByName(extra)
    )

    def scalar_pixels(b):
        return mm._decode_bmp(b) or mm._decode_png(b) or decode_jpeg(b)

    def scalar_wav(b):
        return mm._decode_wav(b) or mm._decode_wav_ima(b)

    want_frames = []
    for r in video.collect():
        frames = mm._decode_framepack(bytes(r.payload)) if r.payload else None
        for idx in range(0, len(frames or []), 2):
            dec = scalar_pixels(frames[idx])
            if dec is None:
                continue
            w, h, rows = dec
            acc = sum((299 * pr + 587 * pg + 114 * pb) // 1000
                      for row in rows for pr, pg, pb in row)
            want_frames.append(
                (r.media_id, idx, w, h, round(acc / (w * h) / 255.0, 6)))
    got_frames = sorted(map(tuple, mm.sample_frames(video).collect()))
    assert got_frames == sorted(want_frames)
    assert {m for m, *_ in got_frames} >= {0, 100}

    want_spec, want_sigs = [], []
    for r in audio.collect():
        dec = scalar_wav(bytes(r.payload)) if r.payload else None
        if dec is None:
            continue
        mono, rate, _ = dec
        want_spec.append((r.media_id, rate, len(mono),
                          *mm._spectral_row(mono, rate, 2048)))
        mags = np.abs(np.round(np.asarray(mono) * 32768.0)).astype(np.int64)
        for w0 in range(0, len(mags) - 256 + 1, 256):
            want_sigs.append(
                (r.media_id, w0 // 256, int(mags[w0:w0 + 256].sum() // 256)))
    got_spec = sorted(map(tuple, mm.spectral_features(audio).collect()))
    assert got_spec == sorted(want_spec)
    assert {m for m, *_ in got_spec} >= {0, 50, 200, 201}
    got_sigs = sorted(map(tuple, mm.audio_window_signatures(audio).collect()))
    assert got_sigs == sorted(want_sigs)
