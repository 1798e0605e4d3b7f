"""Multimodal column plumbing (SURVEY.md §2.11 N3).

Images/audio/video are opaque `binary` columns plus a typed metadata
struct. The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signatures, partition sizing — is real and tested. Each operation has
one runtime decode path, decided per payload inside the worker:

1. the numpy arm (codec_np.py) over the vendored formats: 24bpp BMP,
   8-bit PNG (zlib IDAT + all five scanline filters, Adam7), Huffman
   JPEG (jpeg.py: baseline, extended sequential, progressive) and PCM16
   WAV;
2. for audio only, mono IMA-ADPCM WAV (`_decode_wav_ima`: 4-bit nibbles
   -> 16-bit PCM, a serial predictor recurrence with no numpy arm);
3. `decode_image_stub`, a deterministic fake keyed on the payload hash,
   for bytes nothing recognizes (the `n3_multimodal_features` payloads
   are utf-8 text).

No system codec library is consulted, so features are a function of the
bytes alone. Formats outside the vendored set (arithmetic-coded JPEG,
GIF, MP3/OGG) decode to the stub. The scalar decoders here
(`_decode_bmp` / `_decode_png` / `_decode_wav` with `_bmp_features` /
`_wav_features` / `_ahash_ints`) are the spec reference the numpy arm is
tested bit-identical against; codec_np shares their container parsers.

At 100 TB the pattern is: keep payloads in their own parquet column
(column pruning means metadata-only queries never read bytes), size
`spark.sql.files.maxPartitionBytes` so a task's Arrow batches fit executor
memory, and run decode/feature-extract as mapInPandas over binary batches.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),  # image|audio|video
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = "media_id long, n_bytes long, feat array<float>"


def decode_image_stub(payload: bytes) -> list[float]:
    """Deterministic fake 'decode + feature-extract'.

    The fake derives an 8-dim feature from the payload digest so tests are
    reproducible and downstream plumbing (schema, batching) is exercised
    end-to-end. `decode_image` and `decode_audio` return it for bytes no
    vendored decoder recognizes.
    """
    if payload is None:
        raise NotImplementedError("real codecs unavailable; payload must be non-null")
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:8]]


def _decode_bmp(payload: bytes):
    """Pure-stdlib decode of uncompressed 24bpp BMP (the one raster format
    writable and readable with `struct` alone). Returns (width, height,
    rows of (r, g, b)) or None if the bytes aren't such a BMP: the
    scalar reference for codec_np.decode_bmp_np. Compressed BMPs and
    other depths are out of scope and decode to the stub."""
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
    rows = []
    for r in range(h_abs):
        src = data_off + row_size * r
        rows.append(
            [
                (payload[src + 3 * c + 2], payload[src + 3 * c + 1], payload[src + 3 * c])
                for c in range(w)
            ]
        )
    if bottom_up:
        rows.reverse()
    return w, h_abs, rows


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter_row(ftype: int, line: bytearray, prev, channels: int):
    """Undo one scanline's filter in place (PNG spec §9: None/Sub/Up/
    Average/Paeth).  `prev` is the already-reconstructed previous row
    (any byte-indexable).  Shared by the scalar decode and, for the two
    serial filters (Average/Paeth, whose left-dependency defeats
    vectorization), by codec_np's numpy arm."""
    stride = len(line)
    if ftype == 1:  # Sub
        for i in range(channels, stride):
            line[i] = (line[i] + line[i - channels]) & 0xFF
    elif ftype == 2:  # Up
        for i in range(stride):
            line[i] = (line[i] + prev[i]) & 0xFF
    elif ftype == 3:  # Average
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (line[i] + pred) & 0xFF
    elif ftype != 0:
        raise ValueError(f"unknown filter type {ftype}")


def _png_unfilter(raw: bytes, pos: int, width: int, height: int,
                  channels: int):
    """Undo the five scanline filters over one (sub-)image; returns
    (list of unfiltered scanline bytearrays, new position).  Filter
    state (the prev row) is scoped to the sub-image — exactly why Adam7
    passes must each start fresh."""
    stride = width * channels
    out = []
    prev = bytearray(stride)
    for _ in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("truncated scanline data")
        ftype = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        _png_unfilter_row(ftype, line, prev, channels)
        prev = line
        out.append(line)
    return out, pos


def _parse_png(payload: bytes):
    """Shared PNG container parse: chunk walk, IHDR validation, IDAT
    inflate.  Returns (width, height, channels, interlace, raw filtered
    scanline bytes) or None if the payload isn't an 8-bit gray/RGB/RGBA
    PNG this vendored path covers.  Both the scalar reference decode
    (`_decode_png`) and the numpy block decode (codec_np.decode_png_np)
    consume this, so the two arms cannot diverge on container handling."""
    import struct
    import zlib

    if len(payload) < 45 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (size,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            return None
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # 4 size + 4 type + body + 4 crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if (
        channels is None or depth != 8 or comp != 0 or filt != 0
        or interlace not in (0, 1) or w == 0 or h == 0
    ):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    return w, h, channels, interlace, raw


def _decode_png(payload: bytes):
    """Pure-stdlib decode of 8-bit PNG (gray / RGB / RGBA — the
    overwhelming majority of real PNGs), non-interlaced OR Adam7
    interlaced. zlib-inflates the IDAT stream and applies the
    five scanline filters (None/Sub/Up/Average/Paeth) per the spec —
    per PASS for Adam7, whose seven sub-images each carry their own
    filter state and scatter into the pixel grid. Returns (width,
    height, rows of (r, g, b)) — the same shape as `_decode_bmp`, so
    the feature/resize paths are codec-agnostic — or None if the bytes
    aren't such a PNG. A COMPRESSED vendored codec: the decode
    exercises real entropy-coded data with stdlib zlib alone. Alpha is
    dropped, not composited; palette/16-bit inputs are out of scope."""
    parsed = _parse_png(payload)
    if parsed is None:
        return None
    w, h, channels, interlace, raw = parsed

    def px(line: bytearray, i: int):
        if channels == 1:
            v = line[i]
            return (v, v, v)
        return tuple(line[i * channels:i * channels + 3])

    try:
        if interlace == 0:
            lines, _ = _png_unfilter(raw, 0, w, h, channels)
            return w, h, [[px(ln, i) for i in range(w)] for ln in lines]
        grid = [[(0, 0, 0)] * w for _ in range(h)]
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # pass empty at this image size
            lines, pos = _png_unfilter(raw, pos, wp, hp, channels)
            for j, ln in enumerate(lines):
                y = y0 + j * dy
                for i in range(wp):
                    grid[y][x0 + i * dx] = px(ln, i)
        return w, h, grid
    except ValueError:
        return None


def _encode_png(rows) -> bytes:
    """Encode (r, g, b) pixel rows as an 8-bit RGB PNG (filter 0 per
    scanline, one zlib IDAT) — the writer twin of `_decode_png`, so the
    resize path can round-trip a compressed format lib-free."""
    import struct
    import zlib

    h, w = len(rows), len(rows[0])

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(v for px in row for v in px) for row in rows
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _bmp_features(decoded) -> list[float]:
    """8-dim image feature: normalized width/height/bands, a 1.0
    real-decode marker, and a 2x2 grayscale thumbnail (box average +
    ITU-R 601-2 luma). Scalar reference for codec_np.features_np."""
    w, h, rows = decoded
    thumb = []
    for qr in range(2):
        for qc in range(2):
            r0, r1 = (h * qr) // 2, max((h * (qr + 1)) // 2, (h * qr) // 2 + 1)
            c0, c1 = (w * qc) // 2, max((w * (qc + 1)) // 2, (w * qc) // 2 + 1)
            acc = n = 0
            for r in range(r0, min(r1, h)):
                for c in range(c0, min(c1, w)):
                    pr, pg, pb = rows[r][c]
                    acc += (299 * pr + 587 * pg + 114 * pb) // 1000
                    n += 1
            thumb.append((acc // max(n, 1)) / 255.0)
    return [w / 4096.0, h / 4096.0, 3 / 4.0, 1.0] + thumb


def decode_image(payload: bytes) -> list[float]:
    """Decode + feature-extract through the numpy arm (codec_np.py).

    24bpp BMP, 8-bit PNG and Huffman-coded JPEG payloads yield an 8-dim
    feature computed from the actual pixels: normalized width, height,
    band count, a 1.0 real-decode marker, and a 2x2 grayscale thumbnail
    (`_bmp_features` is the scalar reference it matches bit for bit).
    Bytes the arm does not recognize (the `n3_multimodal_features`
    payloads are utf-8 text) get the deterministic stub.
    """
    if payload is None:
        raise NotImplementedError("payload must be non-null")
    from hiero_spark.functions import codec_np

    decoded = codec_np.decode_pixels_np(payload)
    if decoded is not None:
        return codec_np.features_np(decoded)
    return decode_image_stub(payload)


def _parse_wav_pcm(payload: bytes):
    """Container half of the PCM16 RIFF/WAVE decode, shared by the scalar
    arm below and codec_np's vectorized arm (same sharing pattern as
    `_parse_png` / `jpeg.decode_jpeg(assemble=...)`).  Returns
    (data_bytes, rate, channels) or None."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if audio_fmt != 1 or bits != 16 or channels < 1 or rate == 0:
        return None
    return data, rate, channels


def _decode_wav(payload: bytes):
    """Pure-stdlib decode of PCM16 RIFF/WAVE. Returns (mono float samples
    in [-1, 1), sample_rate, n_channels) or None. Same role as
    `_decode_bmp`: the scalar reference for codec_np.decode_wav_np."""
    parsed = _parse_wav_pcm(payload)
    if parsed is None:
        return None
    data, rate, channels = parsed
    import array

    n_frames = len(data) // (2 * channels)
    pcm = array.array("h")
    pcm.frombytes(data[: n_frames * 2 * channels])
    mono = [
        sum(pcm[f * channels + c] for c in range(channels)) / channels / 32768.0
        for f in range(n_frames)
    ]
    return mono, rate, channels


def _wav_features(mono, rate: int, channels: int) -> list[float]:
    """8-dim audio feature: duration s, rate/1e5, channels/8, RMS, peak,
    3 thirds-energy bins. Scalar reference for codec_np.wav_features_np."""
    n = len(mono)
    third = max(n // 3, 1)
    energies = []
    for i in range(3):
        seg = mono[i * third:(i + 1) * third]
        energies.append(sum(v * v for v in seg) / len(seg) if seg else 0.0)
    rms = (sum(v * v for v in mono) / n) ** 0.5 if n else 0.0
    peak = max(abs(v) for v in mono) if n else 0.0
    return [n / float(rate), rate / 1e5, channels / 8.0, rms, peak] + energies


def _decode_wav_any(payload: bytes):
    """The runtime audio decode: PCM16 WAV through the numpy arm
    (codec_np.decode_wav_np, bit-identical to the scalar `_decode_wav`),
    then mono IMA-ADPCM WAV (`_decode_wav_ima`; its serial predictor has
    no numpy arm).  Returns (mono float64 ndarray, rate, channels) or
    None for bytes neither recognizes."""
    import numpy as np

    from hiero_spark.functions import codec_np

    try:
        decoded = codec_np.decode_wav_np(payload)
        if decoded is not None:
            return decoded
    except Exception:
        # an unexpected decode error falls through to the IMA arm
        # instead of failing the whole Arrow batch
        pass
    decoded = _decode_wav_ima(payload)
    if decoded is None:
        return None
    mono, rate, channels = decoded
    return np.asarray(mono, dtype=np.float64), rate, channels


def decode_audio(payload: bytes) -> list[float]:
    """Audio decode + feature-extract (8-dim: duration s, sample rate /
    1e5, channel count / 8, RMS, peak, and 3 coarse thirds-energy bins)
    through `_decode_wav_any` and codec_np.wav_features_np (bit-identical
    to the scalar `_wav_features`); other bytes get the deterministic
    stub (the same digest features as images)."""
    if payload is None:
        raise NotImplementedError("payload must be non-null")
    from hiero_spark.functions import codec_np

    decoded = _decode_wav_any(payload)
    if decoded is not None:
        return codec_np.wav_features_np(*decoded)
    return decode_image_stub(payload)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas batch holds ~10k rows of (id, payload);
    the UDF never sees the whole partition at once.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_image)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feat": feats,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: emits (media_id, frame_ts_ms) rows per sampled
    frame based on metadata duration — decode itself stubbed (no codecs).

    Pure DataFrame op: explode a generated timestamp sequence; real frame
    extraction would join payload bytes in a mapInPandas like above.
    """
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


RESIZED_SCHEMA = (
    "media_id long, payload binary, width int, height int, resized boolean"
)


def _encode_bmp(rows) -> bytes:
    """Encode (r, g, b) pixel rows as an uncompressed 24bpp bottom-up BMP."""
    import struct

    h, w = len(rows), len(rows[0])
    row_size = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_size - w * 3)
    body = b"".join(
        b"".join(bytes((pb, pg, pr)) for pr, pg, pb in rows[r]) + pad
        for r in range(h - 1, -1, -1)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize as mapInPandas over binary batches.

    BMP, PNG and JPEG payloads are decoded by the numpy arm
    (codec_np.py), resized nearest-neighbor, and re-encoded in their own
    format. Bytes it cannot decode pass through unchanged with
    resized=False and NULL width/height — emitting the requested
    dimensions there would misdescribe untouched bytes. Binary in/binary
    out keeps payloads off the driver, with metadata updated in the same
    pass.
    """
    from hiero_spark.functions import codec_np
    from hiero_spark.functions.jpeg import encode_jpeg

    def resize_one(payload):
        if payload is None:
            raise NotImplementedError("payload must be non-null")
        for decode, encode in (
            (codec_np.decode_bmp_np, _encode_bmp),
            (codec_np.decode_png_np, _encode_png),
            (codec_np.decode_jpeg_np, encode_jpeg),
        ):
            dec = decode(payload)
            if dec is not None:
                return encode(codec_np.nn_resize_rows(dec, width, height)), True
        return payload, False

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            done = pdf["payload"].map(resize_one)
            ok = done.map(lambda t: t[1])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": done.map(lambda t: t[0]),
                    "width": ok.map(lambda b: width if b else None),
                    "height": ok.map(lambda b: height if b else None),
                    "resized": ok,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, RESIZED_SCHEMA)


def synthetic_media(spark, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from documents (payload = utf8 bytes) so the
    binary plumbing is testable with the data available in this container."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.length(F.col(text_col)) * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# --- real frame extraction over a lib-free video container ---

FRAMEPACK_MAGIC = b"FPK1"

FRAME_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, mean_luma double"
)


def encode_framepack(frames) -> bytes:
    """Pack BMP frame bytes into the repo's uncompressed video container:
    magic + u32 frame count + per-frame u32-length-prefixed payloads.
    Deliberately trivial (an MJPEG-in-AVI analog reduced to its essence)
    so REAL container parsing + frame decode runs with zero codec libs —
    the same vendored-format strategy as the BMP/WAV decoders above."""
    import struct

    out = [FRAMEPACK_MAGIC, struct.pack("<I", len(frames))]
    for fb in frames:
        out.append(struct.pack("<I", len(fb)))
        out.append(fb)
    return b"".join(out)


def _decode_framepack(payload: bytes):
    """-> list of frame byte strings, or None if not a framepack."""
    import struct

    if len(payload) < 8 or payload[:4] != FRAMEPACK_MAGIC:
        return None
    (n,) = struct.unpack_from("<I", payload, 4)
    frames, off = [], 8
    for _ in range(n):
        if off + 4 > len(payload):
            return None
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        if off + ln > len(payload):
            return None
        frames.append(payload[off : off + ln])
        off += ln
    return frames


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse the framepack container, take
    every `every_n`-th frame, decode it through the numpy arm
    (codec_np.decode_pixels_np: BMP, PNG or JPEG), and emit per-frame
    stats (dimensions + mean luma). Arrow-batched mapInPandas like the
    other decode paths — one row in, k rows out, the 1:N shape
    metadata-only frame_sample_stub cannot produce.
    Non-framepack payloads yield no rows (they are not videos)."""
    from hiero_spark.functions import codec_np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "width", "height", "mean_luma")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = _decode_framepack(bytes(payload)) if payload is not None else None
                if not frames:
                    continue
                for idx in range(0, len(frames), every_n):
                    # frames may be BMP, PNG, or JPEG — the container
                    # is codec-agnostic, like MJPEG-in-AVI
                    dec = codec_np.decode_pixels_np(frames[idx])
                    if dec is None:
                        continue
                    w, h, arr = dec
                    acc = int(codec_np._luma_np(arr).sum())
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_luma"].append(round(acc / (w * h) / 255.0, 6))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


# IMA ADPCM tables (public spec: IMA Digital Audio Focus Group, 1992;
# the same tables every implementation ships)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_decode_nibble(nib: int, state: list) -> int:
    """One IMA ADPCM step: state = [predictor, index], returns sample."""
    pred, idx = state
    step = _IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        pred -= diff
    else:
        pred += diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nib]))
    state[0], state[1] = pred, idx
    return pred


def _decode_wav_ima(payload: bytes):
    """Pure-stdlib decode of MONO IMA-ADPCM RIFF/WAVE (format tag 0x11) —
    the vendored COMPRESSED audio codec, closing the same gap for audio
    that the PNG decoder closed for images (4-bit nibbles -> 16-bit PCM,
    ~4x compression). Returns (mono float samples in [-1, 1),
    sample_rate, 1) or None. Stereo and other format tags are out of
    scope and decode to the stub."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt, channels, rate, _, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_fmt != 0x11 or channels != 1 or bits != 4 or rate == 0:
        return None
    samples: list[float] = []
    off = 0
    while off + 4 <= len(data):
        block = data[off:off + block_align]
        off += block_align
        pred = struct.unpack_from("<h", block, 0)[0]
        idx = block[2]
        if idx > 88:
            return None
        state = [pred, idx]
        samples.append(pred / 32768.0)
        for byte in block[4:]:
            samples.append(_ima_decode_nibble(byte & 0x0F, state) / 32768.0)
            samples.append(_ima_decode_nibble(byte >> 4, state) / 32768.0)
    return samples, rate, 1


def _encode_wav_ima(pcm16, rate: int = 8000, block_samples: int = 505) -> bytes:
    """Encode mono int16 samples as an IMA-ADPCM WAV (the writer twin of
    `_decode_wav_ima`, for lib-free round-trip tests). Standard greedy
    encoder: pick the nibble whose decoded step lands nearest, using the
    DECODER's own state transition so encoder and decoder never drift."""
    import struct

    block_align = 4 + (block_samples - 1) // 2 + ((block_samples - 1) % 2 > 0)
    blocks = []
    i = 0
    while i < len(pcm16):
        chunk = pcm16[i:i + block_samples]
        i += block_samples
        state = [int(chunk[0]), 0]
        header = struct.pack("<hBB", state[0], state[1], 0)
        nibbles = []
        for s in chunk[1:]:
            best_nib, best_err = 0, None
            for nib in range(16):
                trial = list(state)
                dec = _ima_decode_nibble(nib, trial)
                err = abs(dec - int(s))
                if best_err is None or err < best_err:
                    best_nib, best_err = nib, err
            _ima_decode_nibble(best_nib, state)
            nibbles.append(best_nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        body = bytes(
            nibbles[j] | (nibbles[j + 1] << 4) for j in range(0, len(nibbles), 2)
        )
        blocks.append((header + body).ljust(block_align, b"\x00"))
    data = b"".join(blocks)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // block_samples,
        block_align, 4, 2, block_samples,
    )
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# --- signal-level audio + video analysis ----------------------------------

SPECTRAL_SCHEMA = (
    "media_id long, sample_rate int, n_samples int, dominant_bin int, "
    "dominant_hz double, centroid_hz double, rolloff_hz double, "
    "flatness double"
)

SCENE_SCHEMA = (
    "media_id long, frame_idx int, luma_prev int, luma_curr int, "
    "luma_diff int, is_cut boolean"
)


def _encode_wav_pcm16(pcm16, rate: int = 8000, channels: int = 1) -> bytes:
    """Encode int16 samples (interleaved if multichannel) as a PCM16
    RIFF/WAVE — the writer twin of `_decode_wav`, so tone corpora can be
    synthesized distributed-side and decoded by the vendored reader."""
    import array
    import struct

    data = array.array("h", [int(s) for s in pcm16]).tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def synthetic_tone_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    rate: int = 8000,
    n_samples: int = 2048,
    n_tones: int = 8,
) -> DataFrame:
    """Per-row synthesized WAV clips: a pure sine at a bin-aligned
    frequency keyed on the id — f = k * rate / n_samples with
    k = 128 + (id % n_tones) * 64, so the rFFT peak lands EXACTLY in bin
    k and spectral verdicts are integer-exact. Payload bytes are built
    inside an Arrow batch (numpy sine -> int16 -> vendored PCM16
    encoder), so clip synthesis scales with the corpus like any other
    mapInPandas stage — no driver-side generation."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n_samples, dtype=np.float64)
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                k = 128 + (int(mid) % n_tones) * 64
                wave = np.sin(2.0 * np.pi * k * t / n_samples)
                pcm = np.round(wave * 30000.0).astype(np.int16)
                payloads.append(_encode_wav_pcm16(pcm, rate))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    base = docs.select(F.col(id_col).cast("long").alias("media_id"))
    return base.mapInPandas(run, "media_id long, payload binary")


def _spectral_row(mono, rate: int, n_fft: int) -> tuple:
    """(dominant_bin, dominant_hz, centroid_hz, rolloff_hz, flatness) of
    one clip's first `n_fft` samples (zero-padded if shorter)."""
    import numpy as np

    x = np.zeros(n_fft, dtype=np.float64)
    seg = np.asarray(mono[:n_fft], dtype=np.float64)
    x[: len(seg)] = seg
    mag = np.abs(np.fft.rfft(x))
    power = mag * mag
    tot = float(power.sum())
    freqs = np.arange(len(mag)) * (rate / n_fft)
    if tot <= 0.0:
        dom = 0
        centroid = rolloff = 0.0
        flat = 1.0
    else:
        dom = int(mag.argmax())
        centroid = float((freqs * mag).sum() / mag.sum())
        cum = np.cumsum(power)
        rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * tot))])
        nz = power[power > 0.0]
        flat = float(np.exp(np.log(nz).mean()) / (tot / len(power)))
    return (
        dom,
        round(dom * rate / n_fft, 6),
        round(centroid, 6),
        round(rolloff, 6),
        round(flat, 9),
    )


def spectral_features(media: DataFrame, n_fft: int = 2048) -> DataFrame:
    """Frequency-domain audio features via numpy rFFT, one Arrow batch at
    a time: dominant bin/Hz (argmax of magnitude), spectral centroid
    (magnitude-weighted mean frequency), 85% energy rolloff, and spectral
    flatness (geometric / arithmetic mean of power, 0 = tonal, 1 = noise).

    Decode is `_decode_wav_any` (PCM16 through the numpy arm, then
    IMA-ADPCM); payloads neither recognizes emit no row — they are not
    audio. Clips are analyzed over their first `n_fft` samples
    (zero-padded if shorter) so bin width is fixed at rate/n_fft and
    features across clips are comparable. Per-clip cost is O(n_fft log
    n_fft) inside the worker; nothing leaves the executor but the
    8-column feature row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "sample_rate", "n_samples", "dominant_bin",
                "dominant_hz", "centroid_hz", "rolloff_hz", "flatness")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                decoded = _decode_wav_any(bytes(payload))
                if decoded is None:
                    continue
                mono, rate, _ = decoded
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(mono))
                for k, v in zip(
                    ("dominant_bin", "dominant_hz", "centroid_hz",
                     "rolloff_hz", "flatness"),
                    _spectral_row(mono, rate, n_fft),
                ):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, SPECTRAL_SCHEMA)


def _frame_mean_luma(frame: bytes):
    """Decode one frame (BMP/PNG/JPEG) through the numpy arm
    (codec_np.py) and return its integer mean luma in [0, 255], or
    None."""
    from hiero_spark.functions import codec_np

    dec = codec_np.decode_pixels_np(frame)
    return codec_np.mean_luma_np(dec) if dec is not None else None


def detect_scene_cuts(media: DataFrame, threshold: int = 40) -> DataFrame:
    """Shot-boundary detection over framepack videos: decode every frame,
    compute integer mean luma, and flag frame i as a cut when
    |luma_i - luma_{i-1}| > threshold — the classic intensity-difference
    detector, reduced to the exact-integer feature the vendored decoders
    produce. Emits one row per frame transition (frame_idx >= 1).

    Same scale shape as sample_frames: mapInPandas over binary batches,
    1 video row -> n_frames-1 transition rows, decode never leaves the
    worker. Undecodable frames break the luma chain (no transition row
    across them) rather than fabricating a diff."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "frame_idx", "luma_prev", "luma_curr",
                "luma_diff", "is_cut")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = _decode_framepack(bytes(payload)) if payload is not None else None
                if not frames:
                    continue
                prev = None
                for idx, fb in enumerate(frames):
                    luma = _frame_mean_luma(fb)
                    if luma is not None and prev is not None:
                        diff = abs(luma - prev)
                        out["media_id"].append(mid)
                        out["frame_idx"].append(idx)
                        out["luma_prev"].append(prev)
                        out["luma_curr"].append(luma)
                        out["luma_diff"].append(diff)
                        out["is_cut"].append(diff > threshold)
                    prev = luma
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, SCENE_SCHEMA)


def synthetic_cut_video(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 8,
    size: int = 8,
) -> DataFrame:
    """Per-row framepack videos with ONE planted scene cut: frames before
    cut_at = 2 + (id % (n_frames - 3)) are dark (luma 20), frames from
    cut_at on are bright (luma 220) — solid-color BMP frames, so the
    detector's integer luma is exact and the cut position is
    SQL-computable from the id. Built batch-side like
    synthetic_tone_media."""

    def solid(v: int) -> bytes:
        row = [(v, v, v)] * size
        return _encode_bmp([row] * size)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dark, bright = solid(20), solid(220)
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                cut_at = 2 + int(mid) % (n_frames - 3)
                payloads.append(encode_framepack(
                    [dark] * cut_at + [bright] * (n_frames - cut_at)
                ))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    base = docs.select(F.col(id_col).cast("long").alias("media_id"))
    return base.mapInPandas(run, "media_id long, payload binary")


PATTERN_SCHEMA = "media_id long, payload binary"
AHASH_SCHEMA = "media_id long, phash_hi long, phash_lo long, decoded boolean"


def synthetic_pattern_images(
    docs: DataFrame, id_col: str = "doc_id", size: int = 16
) -> DataFrame:
    """Per-row synthesized grayscale BMP test cards for the image-dedup
    path: pixel(i, j) = (37*(id DIV 10) + 11*i + 5*j) % 256, so every
    group of 10 consecutive ids shares a base pattern; each doc then
    perturbs the first (id % 10) pixels of row 0 by +64 (mod 256) — a
    planted NEAR-duplicate family whose average-hash Hamming distances
    are small within a group. Gray pixels round-trip the 24bpp BMP and
    the integer luma exactly ((299g+587g+114g)//1000 == g), so the
    whole hash is doc_id arithmetic the oracle recomputes — the
    synthetic_tone_media discipline for images. Built inside Arrow
    batches; no driver-side generation."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                base = 37 * (mid // 10)
                rows = []
                for i in range(size):
                    row = []
                    for j in range(size):
                        g = (base + 11 * i + 5 * j) % 256
                        if i == 0 and j < mid % 10:
                            g = (g + 64) % 256
                        row.append((g, g, g))
                    rows.append(row)
                payloads.append(_encode_bmp(rows))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    return (
        docs.select(F.col(id_col).alias("media_id"))
        .mapInPandas(run, PATTERN_SCHEMA)
    )


def _decode_and_ahash(b: bytes, grid: int = 8):
    """Decode + average-hash through the numpy arm (codec_np.py, tested
    bit-identical to the scalar `_ahash_ints`).  Returns (hi, lo) or
    None for undecodable bytes.  Shared by image AND per-frame video
    hashing so the two dedup families cannot drift."""
    from hiero_spark.functions import codec_np

    dec = codec_np.decode_pixels_np(b)
    return codec_np.ahash_ints_np(dec, grid) if dec is not None else None


def _ahash_ints(dec, grid: int = 8):
    """Average-hash core over a decoded (w, h, rows) image: integer luma,
    exact block partition (pixel (i,j) -> block (i*grid DIV h,
    j*grid DIV w)), strict cross-multiplied mean threshold; returns the
    (hi, lo) 32-bit halves. Scalar reference for codec_np.ahash_ints_np."""
    w, h, rows = dec
    n_blocks = grid * grid
    sums = [0] * n_blocks
    total = 0
    for i in range(h):
        bi = i * grid // h
        row = rows[i]
        for j in range(w):
            r, g, bl = row[j]
            luma = (299 * r + 587 * g + 114 * bl) // 1000
            sums[bi * grid + (j * grid // w)] += luma
            total += luma
    hi = lo = 0
    for k in range(n_blocks):
        if sums[k] * n_blocks > total:
            if k >= 32:
                hi |= 1 << (k - 32)
            else:
                lo |= 1 << k
    return hi, lo


def average_hash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash over binary image payloads: decode
    (BMP/PNG/JPEG), integer luma per pixel, block-sum downsample
    to grid x grid (pixel (i,j) -> block (i*grid DIV h, j*grid DIV w) —
    exact integer partition, any dimensions), bit_k = 1 iff
    block_sum_k * n_blocks > total_sum (strict; cross-multiplied so no
    division ever happens). The 64 bits ship as TWO 32-bit halves
    (phash_hi = bits 32..63, phash_lo = bits 0..31) so every value
    stays positive — no signed-shift/overflow semantics to disagree on
    anywhere. Undecodable payloads emit decoded=false with NULL hash
    (the resize_images contract). mapInPandas: decode never leaves the
    worker, output is 3 scalars per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "phash_hi": [], "phash_lo": [], "decoded": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                hashed = (
                    _decode_and_ahash(bytes(payload), grid)
                    if payload is not None
                    else None
                )
                out["media_id"].append(mid)
                if hashed is None:
                    out["phash_hi"].append(None)
                    out["phash_lo"].append(None)
                    out["decoded"].append(False)
                    continue
                out["phash_hi"].append(hashed[0])
                out["phash_lo"].append(hashed[1])
                out["decoded"].append(True)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, AHASH_SCHEMA)


def image_near_dups(hashes: DataFrame, max_hamming: int = 6) -> DataFrame:
    """(id_a, id_b, hamming): image near-duplicate pairs by average-hash
    Hamming distance — the pHash dedup every image-corpus pipeline runs.
    Candidates come from 8-band blocking (8 bits per band): two hashes
    within Hamming 6 differ in at most 6 bands, so BY PIGEONHOLE at
    least one of the 8 bands matches exactly — recall is guaranteed,
    never probabilistic (the SimHash banding argument with a provable
    bound). The join shuffles (band_idx, band_val, id) triples only;
    verification is bit_count(xor) on the two 32-bit halves. Quadratic
    only inside identical-band buckets (same-image families — the
    output), never corpus-wide."""
    h = hashes.filter(F.col("decoded")).select("media_id", "phash_hi", "phash_lo")
    bands = h.select(
        "media_id",
        "phash_hi",
        "phash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            (
                                F.col("phash_hi") if b >= 4 else F.col("phash_lo")
                            ).bitwiseAND(F.lit(255 << (8 * (b % 4))))
                        ).alias("band_val"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("band"),
    ).select("media_id", "phash_hi", "phash_lo", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (
                F.bit_count(
                    F.col("a.phash_hi").bitwiseXOR(F.col("b.phash_hi"))
                )
                + F.bit_count(
                    F.col("a.phash_lo").bitwiseXOR(F.col("b.phash_lo"))
                )
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


FRAME_HASH_SCHEMA = "media_id long, frame_idx int, phash_hi long, phash_lo long"


def synthetic_pattern_video(
    docs: DataFrame, id_col: str = "doc_id", n_frames: int = 6, size: int = 16
) -> DataFrame:
    """Framepack videos for the video-dedup path: frame f pixel (i,j) =
    (37*(id DIV 5) + 23*f + 11*i + 5*j) % 256, so groups of 5 videos
    share every frame; frame 0 additionally perturbs the first
    (id % 5) pixels of its top row — within a group, frames 1..n-1
    stay byte-identical (exact shared hashes) while frame 0 drifts.
    All doc_id arithmetic, mirrored by the oracle; batch-side build."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                base = 37 * (mid // 5)
                frames = []
                for f in range(n_frames):
                    rows = []
                    for i in range(size):
                        row = []
                        for j in range(size):
                            g = (base + 23 * f + 11 * i + 5 * j) % 256
                            if f == 0 and i == 0 and j < mid % 5:
                                g = (g + 64) % 256
                            row.append((g, g, g))
                        rows.append(row)
                    frames.append(_encode_bmp(rows))
                payloads.append(encode_framepack(frames))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    return (
        docs.select(F.col(id_col).cast("long").alias("media_id"))
        .mapInPandas(run, PATTERN_SCHEMA)
    )


def frame_hashes(media: DataFrame, grid: int = 8) -> DataFrame:
    """Per-frame average-hash over framepack videos: decode each frame
    (BMP/PNG/JPEG) and emit (media_id, frame_idx, hi, lo) through the
    SAME decode + hash step as image dedup (_decode_and_ahash). Undecodable frames
    are skipped; decode never leaves the worker."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "phash_hi": [], "phash_lo": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = (
                    _decode_framepack(bytes(payload))
                    if payload is not None
                    else None
                )
                if not frames:
                    continue
                for idx, fb in enumerate(frames):
                    hashed = _decode_and_ahash(fb, grid)
                    if hashed is None:
                        continue
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["phash_hi"].append(hashed[0])
                    out["phash_lo"].append(hashed[1])
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, FRAME_HASH_SCHEMA)


def video_near_dups(media: DataFrame, min_shared: int = 3) -> DataFrame:
    """(id_a, id_b, n_shared): video near-duplicate pairs — videos whose
    DISTINCT frame-hash sets share at least `min_shared` values (frame
    order ignored: re-cut/re-ordered copies still match, the shingle
    trick lifted to frames). Candidate generation IS the verification:
    the join key is the full 64-bit frame hash, so shuffled rows are
    (hash, id) pairs and the per-pair count is exact — no banding
    needed because identical frames, not merely similar ones, are the
    video-dedup signal (a near-identical frame still hashes equal under
    the block mean). Completes the dedup family: text (MinHash/PPJoin),
    image (banded pHash), video (shared frame hashes)."""
    hs = frame_hashes(media).select("media_id", "phash_hi", "phash_lo").distinct()
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.phash_hi") == F.col("b.phash_hi"))
            & (F.col("a.phash_lo") == F.col("b.phash_lo"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


AUDIO_SIG_SCHEMA = "media_id long, win_idx int, sig long"


def synthetic_segment_audio(
    docs: DataFrame, id_col: str = "doc_id", n_segments: int = 8, win: int = 256
) -> DataFrame:
    """PCM16 clips for the audio-dedup path: n_segments constant-
    amplitude segments of `win` samples, a_s = 1000 + 997*((37*(id DIV
    5) + 23*s) % 29); groups of 5 ids share every segment, segment 0
    additionally shifts by (id % 5)*13 per clip. Constant segments make
    the windowed mean EXACTLY the amplitude (doc_id arithmetic the
    oracle recomputes); int16 round-trips the [-1,1) float samples
    losslessly (division by 2^15 is dyadic). Batch-side build."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                segs = []
                for s in range(n_segments):
                    a = 1000 + 997 * ((37 * (mid // 5) + 23 * s) % 29)
                    if s == 0:
                        a += (mid % 5) * 13
                    segs.append(np.full(win, a, dtype=np.int16))
                payloads.append(_encode_wav_pcm16(np.concatenate(segs)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    return (
        docs.select(F.col(id_col).cast("long").alias("media_id"))
        .mapInPandas(run, PATTERN_SCHEMA)
    )


def audio_window_signatures(media: DataFrame, win: int = 256) -> DataFrame:
    """Per-window audio signature: decode (`_decode_wav_any`),
    recover exact int16 magnitudes (round(sample * 32768) inverts the
    dyadic normalization losslessly), and emit the mean |amplitude| of
    each full non-overlapping window as an exact long (sum DIV win) —
    the energy-profile fingerprint audio dedup matches on. Truncated
    tail windows are skipped; undecodable payloads emit nothing."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "win_idx": [], "sig": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = _decode_wav_any(bytes(payload)) if payload is not None else None
                if dec is None:
                    continue
                mags = np.abs(np.round(dec[0] * 32768.0)).astype(np.int64)
                for w0 in range(0, len(mags) - win + 1, win):
                    out["media_id"].append(mid)
                    out["win_idx"].append(w0 // win)
                    out["sig"].append(int(mags[w0:w0 + win].sum() // win))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, AUDIO_SIG_SCHEMA)


def audio_near_dups(media: DataFrame, min_shared: int = 3, win: int = 256) -> DataFrame:
    """(id_a, id_b, n_shared): audio near-duplicate pairs — clips whose
    DISTINCT window-signature sets share at least `min_shared` values
    (position ignored: re-cut/shifted-by-whole-windows copies match).
    The join key is the exact signature, so candidates ARE the
    verification and the shuffle carries (sig, id) pairs only — the
    video_near_dups contract on the audio axis. Completes dedup across
    all four modalities: text, image, video, audio."""
    hs = (
        audio_window_signatures(media, win)
        .select("media_id", "sig")
        .distinct()
    )
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
