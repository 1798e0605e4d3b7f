"""Numpy-vectorized decode arm: the one runtime decode path of
multimodal.py.

The scalar decoders in jpeg.py / multimodal.py are the spec-reference
implementations — scalar Python on purpose, cited line-by-line by the
hand-vector tests, which compare this arm against them.  This module is
what `decode_image`, `decode_audio` (PCM16), `resize_images` and the
frame-luma and average-hash steps run: identical container parsing and
entropy decoding (shared code, not copies — see
`jpeg.decode_jpeg(assemble=...)` and `multimodal._parse_png`), with the
embarrassingly-data-parallel stages rewritten over numpy arrays:

* JPEG block assembly — dequantize, 8x8 IDCT, level-shift, clamp — runs
  as ONE batched matmul over all of an image's blocks (`M.T @ X @ M`
  with X shaped (n_blocks, 8, 8)) instead of a per-coefficient Python
  loop; chroma upsampling + YCbCr->RGB run as whole-plane array ops.
* PNG unfiltering vectorizes the three parallel-friendly filters
  (None trivially, Up as one saturating add, Sub as a per-channel
  cumulative sum — recon[i] = sum of raws mod 256); Average and Paeth
  keep the scalar per-byte loop (their left-pixel dependency is serial
  by construction) via the shared `_png_unfilter_row`.  Adam7 passes
  scatter with strided array assignment.
* Feature extraction (the 8-dim vector of `_bmp_features`) computes the
  integer luma plane and quadrant box-averages as array reductions with
  the same integer arithmetic, so results are bit-identical.

Bit-exactness with the scalar arm is a test invariant
(tests/test_codec_np.py), not an aspiration: every rounding site uses
floor(v + 0.5) + clip, which agrees with the scalar `int(v + 0.5)` +
clamp on the full domain (they differ only on negative non-integers,
where both clamp to 0).

Decoded pixels stay numpy end-to-end here — (w, h, uint8 array (h, w, 3))
— and only the final feature floats cross back into Python, which is
where the 10-100x over per-pixel tuple building comes from.  Bytes this
arm rejects are rejected by the scalar arm too (pinned per payload family
in tests/test_codec_np.py), so callers go straight to the stub (or, for
audio, to the IMA-ADPCM decoder) without a second scalar pass.
"""

from __future__ import annotations

import numpy as np

from hiero_spark.functions import jpeg as _jpeg

_COS = np.array(_jpeg._COS, dtype=np.float64)  # [u, x]
_ALPHA = _jpeg._ALPHA


def _idct_batch(blocks):
    """Batched 8x8 IDCT over (n, 8, 8) coefficient blocks, BIT-EXACT to
    the scalar `_idct_2d`: a plain matmul (M.T @ X @ M) regroups the
    products and reorders the sums, which flips rounding on exact-.5
    level-shift ties (observed: a Cr block decoding to -31.5 scalar vs
    -31.50000000000001 matmul — a one-level pixel difference).  Instead,
    accumulate over the 8 frequency indices in the scalar arm's order
    with the scalar arm's product grouping ((alpha * coef) * cos), each
    step a full (n, 8, 8) elementwise op — same IEEE operations per
    element, just 64-at-a-time."""
    tmp = np.zeros_like(blocks)  # [n, r, x]
    for u in range(8):
        tmp += (_ALPHA[u] * blocks[:, :, u])[:, :, None] * _COS[u]
    out = np.zeros_like(blocks)  # [n, y, x]
    for v in range(8):
        out += (_ALPHA[v] * tmp[:, v, :])[:, None, :] * _COS[v][None, :, None]
    return out


def _assemble_blocks_np(w, h, comps, blocks, hmax, vmax, prec, qtables):
    """Vectorized twin of jpeg._assemble_blocks: same inputs, returns
    (w, h, uint8 ndarray (h, w, 3)) instead of rows of tuples."""
    half, maxv, shift = 1 << (prec - 1), (1 << prec) - 1, prec - 8
    planes = []
    for ci, c in enumerate(comps):
        arr = np.array(blocks[ci], dtype=np.float64)  # (n_blocks, 64)
        if qtables:
            arr *= np.asarray(qtables[ci], dtype=np.float64)
        px = _idct_batch(arr.reshape(-1, 8, 8))
        # (px + half) + 0.5 — the scalar arm's exact fp association
        v = np.clip(np.floor(px + half + 0.5), 0, maxv)
        planes.append(
            v.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
    if len(comps) == 1:
        g = planes[0][:h, :w]
        if shift:
            g = g.astype(np.int32) >> shift
        return w, h, np.repeat(
            g.astype(np.uint8)[:, :, None], 3, axis=2
        )
    # upsample each plane to full resolution with the scalar arm's exact
    # integer index math: src = (dst * comp_factor) // max_factor
    ys, xs = np.arange(h), np.arange(w)
    full = []
    for ci, c in enumerate(comps):
        full.append(planes[ci][np.ix_(ys * c["v"] // vmax, xs * c["h"] // hmax)])
    yv, cb, cr = full
    r = yv + 1.402 * (cr - half)
    g = yv - 0.344136 * (cb - half) - 0.714136 * (cr - half)
    b = yv + 1.772 * (cb - half)
    rgb = np.stack([r, g, b], axis=2)
    out = np.clip(np.floor(rgb + 0.5), 0, maxv).astype(np.int32)
    if shift:
        out >>= shift
    return w, h, out.astype(np.uint8)


def decode_jpeg_np(payload: bytes):
    """Numpy-arm JPEG decode: the scalar entropy decoder with the
    vectorized assembly tail.  Returns (w, h, uint8 (h, w, 3)) or None."""
    return _jpeg.decode_jpeg(payload, assemble=_assemble_blocks_np)


def _unfilter_np(raw: bytes, pos: int, width: int, height: int,
                 channels: int):
    """Vectorized twin of multimodal._png_unfilter: returns
    (uint8 ndarray (height, width*channels), new position)."""
    from hiero_spark.functions.multimodal import _png_unfilter_row

    stride = width * channels
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("truncated scanline data")
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1)
        pos += 1 + stride
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: recon[i] = sum of raws at stride steps, mod 256
            rec = (
                line.reshape(width, channels)
                .cumsum(axis=0, dtype=np.int64) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up: elementwise add mod 256
            rec = ((line.astype(np.int32) + prev) & 0xFF).astype(np.uint8)
        elif ftype in (3, 4):  # Average/Paeth: serial left-dependency
            ba = bytearray(line.tobytes())
            _png_unfilter_row(ftype, ba, prev.tobytes(), channels)
            rec = np.frombuffer(bytes(ba), np.uint8)
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[r] = rec
        prev = out[r]
    return out, pos


def _lines_to_rgb(arr, width: int, channels: int):
    """(h, width*channels) filtered-out bytes -> (h, width, 3) uint8,
    replicating gray and dropping alpha like the scalar `px` helper."""
    pix = arr.reshape(arr.shape[0], width, channels)
    if channels == 1:
        return np.repeat(pix, 3, axis=2)
    return np.ascontiguousarray(pix[:, :, :3])


def decode_png_np(payload: bytes):
    """Numpy-arm PNG decode: shared container parse, vectorized
    unfilter + pixel assembly.  Returns (w, h, uint8 (h, w, 3)) or None."""
    from hiero_spark.functions.multimodal import _ADAM7, _parse_png

    parsed = _parse_png(payload)
    if parsed is None:
        return None
    w, h, channels, interlace, raw = parsed
    try:
        if interlace == 0:
            arr, _ = _unfilter_np(raw, 0, w, h, channels)
            return w, h, _lines_to_rgb(arr, w, channels)
        grid = np.zeros((h, w, 3), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # pass empty at this image size
            arr, pos = _unfilter_np(raw, pos, wp, hp, channels)
            grid[y0::dy, x0::dx] = _lines_to_rgb(arr, wp, channels)
        return w, h, grid
    except ValueError:
        return None


def decode_bmp_np(payload: bytes):
    """Numpy-arm BMP decode (uncompressed 24bpp, same validation as the
    scalar `_decode_bmp`).  Returns (w, h, uint8 (h, w, 3)) or None."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        return None
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    bottom_up, h_abs = h > 0, abs(h)
    row_size = (w * 3 + 3) & ~3
    if len(payload) < data_off + row_size * h_abs:
        return None
    rows = np.frombuffer(
        payload, np.uint8, row_size * h_abs, data_off
    ).reshape(h_abs, row_size)[:, : w * 3].reshape(h_abs, w, 3)
    rgb = rows[:, :, ::-1]  # BGR storage -> RGB
    if bottom_up:
        rgb = rgb[::-1]
    return w, h_abs, np.ascontiguousarray(rgb)


def _luma_np(arr):
    """ITU-R 601-2 integer luma plane (int64, (h, w)) of a uint8
    (h, w, 3) decode — the scalar decoders' per-pixel
    (299 r + 587 g + 114 b) // 1000."""
    a = arr.astype(np.int64)
    return (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000


def features_np(decoded) -> list[float]:
    """Vectorized twin of multimodal._bmp_features over a (w, h, uint8
    array) decode: identical integer luma + quadrant box-average math."""
    w, h, arr = decoded
    luma = _luma_np(arr)
    thumb = []
    for qr in range(2):
        for qc in range(2):
            r0, r1 = (h * qr) // 2, max((h * (qr + 1)) // 2, (h * qr) // 2 + 1)
            c0, c1 = (w * qc) // 2, max((w * (qc + 1)) // 2, (w * qc) // 2 + 1)
            block = luma[r0:min(r1, h), c0:min(c1, w)]
            thumb.append((int(block.sum()) // max(block.size, 1)) / 255.0)
    return [w / 4096.0, h / 4096.0, 3 / 4.0, 1.0] + thumb


def ahash_ints_np(decoded, grid: int = 8):
    """Vectorized twin of multimodal._ahash_ints over a (w, h, uint8
    array) decode: same integer luma, same exact block partition
    (pixel (i, j) -> block (i*grid DIV h, j*grid DIV w)), same strict
    cross-multiplied threshold; returns the (hi, lo) 32-bit halves."""
    w, h, arr = decoded
    luma = _luma_np(arr)
    bi = np.arange(h) * grid // h
    bj = np.arange(w) * grid // w
    idx = (bi[:, None] * grid + bj).ravel()
    sums = np.bincount(idx, weights=luma.ravel(), minlength=grid * grid)
    total = int(luma.sum())
    n_blocks = grid * grid
    hi = lo = 0
    for k in range(n_blocks):
        if int(sums[k]) * n_blocks > total:
            if k >= 32:
                hi |= 1 << (k - 32)
            else:
                lo |= 1 << k
    return hi, lo


def mean_luma_np(decoded):
    """Vectorized twin of multimodal._frame_mean_luma's luma stage:
    integer mean luma in [0, 255] of a (w, h, uint8 array) decode."""
    w, h, arr = decoded
    luma = _luma_np(arr)
    return int(luma.sum()) // (w * h)


def nn_resize_rows(decoded, width: int, height: int):
    """Nearest-neighbor resize of a (w, h, uint8 array) decode with the
    scalar arm's exact index math (src = (dst * src_dim) DIV dst_dim),
    returned as rows-of-[r, g, b] lists — the shape the scalar encoders
    (_encode_bmp / _encode_png / encode_jpeg) consume, so the np decode
    slots into resize_images without touching the encode side."""
    w0, h0, arr = decoded
    ridx = np.arange(height) * h0 // height
    cidx = np.arange(width) * w0 // width
    return arr[np.ix_(ridx, cidx)].tolist()


def decode_pixels_np(payload: bytes):
    """The numpy decode: BMP, then PNG, then JPEG — the same order and
    the same accept/reject behavior as the scalar reference decoders.
    Returns (w, h, uint8 (h, w, 3)) or None."""
    return (
        decode_bmp_np(payload)
        or decode_png_np(payload)
        or decode_jpeg_np(payload)
    )


def decode_wav_np(payload: bytes):
    """Vectorized half of the PCM16 WAV decode: container
    parsing shared with the scalar arm (multimodal._parse_wav_pcm), the
    per-sample channel mixdown done as array ops.  Returns
    (mono float64 ndarray, rate, channels) or None.

    Bit-exactness with the scalar list comprehension: the per-frame
    channel sum is exact integer arithmetic in both arms (int64 here,
    unbounded int there), and both then apply the same two float64
    divisions in the same order (/ channels, / 32768.0).

    IMA-ADPCM has no numpy arm by construction: its
    predictor/step recurrence makes every sample depend on the previous
    one — a serial scan, the same reason Average/Paeth PNG rows stay
    scalar."""
    from hiero_spark.functions.multimodal import _parse_wav_pcm

    parsed = _parse_wav_pcm(payload)
    if parsed is None:
        return None
    data, rate, channels = parsed
    n_frames = len(data) // (2 * channels)
    pcm = np.frombuffer(data, dtype="<i2", count=n_frames * channels)
    mono = (
        pcm.reshape(n_frames, channels).astype(np.int64).sum(axis=1)
        / channels
        / 32768.0
    )
    return mono, rate, channels


def wav_features_np(mono, rate: int, channels: int) -> list[float]:
    """The 8-dim feature vector of multimodal._wav_features over a numpy
    mono array, BIT-EXACT to the scalar arm: energy/RMS sums use
    cumsum[-1] — sequential left-to-right float64 accumulation, the same
    rounding order as Python's sum() — NOT np.sum, whose pairwise
    summation regroups additions and can differ in the last ulp (same
    trap the batched IDCT's matmul hit, documented at _idct_batch)."""
    n = int(mono.shape[0])

    def _seqsum(a) -> float:
        return float(np.cumsum(a)[-1]) if a.shape[0] else 0.0

    sq = mono * mono
    third = max(n // 3, 1)
    energies = []
    for i in range(3):
        seg = sq[i * third:(i + 1) * third]
        energies.append(_seqsum(seg) / seg.shape[0] if seg.shape[0] else 0.0)
    rms = (_seqsum(sq) / n) ** 0.5 if n else 0.0
    peak = float(np.abs(mono).max()) if n else 0.0
    return [n / float(rate), rate / 1e5, channels / 8.0, rms, peak] + energies
