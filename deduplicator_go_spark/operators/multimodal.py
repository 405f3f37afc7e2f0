"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
a typed metadata struct — the same shape the documents table uses for
``html``.  Decode/hash/transcode run through ``mapInPandas`` so each
Arrow batch amortizes Python overhead and payload bytes never pass
through Python row objects.

Codecs: four formats are decoded for real, with zero third-party
codec libraries (pure numpy/struct, plus stdlib zlib for PNG):

- ``image/bmp`` — 24-bit bottom-up BMP (BITMAPINFOHEADER);
- ``image/png`` — 8-bit gray/RGB/RGBA non-interlaced PNG (full
  filter support: None/Sub/Up/Average/Paeth);
- ``image/jpeg`` — baseline sequential JFIF (gray/YCbCr, 4:4:4 /
  4:2:2 / 4:2:0 sampling, restart intervals — operators/jpeg.py; the
  format covering >90% of web images);
- ``audio/wav`` — PCM16 mono WAV;
- ``audio/adpcm`` — IMA ADPCM mono WAV (RIFF fmt tag 0x11, 4-bit,
  ~4:1 compressed audio; the standard step-table codec);
- ``video/avi`` — raw-DIB AVI (uncompressed 24-bit 'DIB ' stream,
  one '00db' chunk per frame): the video hash is frame-sampled
  (``video_average_hash``) so all three modalities in the north
  rule's image/audio/video triple run on REAL decoded content.

Everything else (progressive JPEG, MP3/...) is honestly out of scope
here: ``strict=True`` raises ``NotImplementedError`` for unsupported
mimes/variants, ``strict=False`` yields a NULL hash (or drops the
row) so one undecodable payload cannot fail a corpus-wide job.

Because perceptual hashes are computed over DECODED pixels, the same
image stored as BMP and as PNG produces an identical hash — the
engine detects cross-format duplicates with no extra machinery
(``transcode_media`` + the ``media_cross_format_dups`` oracle pin
this end-to-end).

On decoded content the engine computes 64-bit PERCEPTUAL hashes
(average-hash over an 8×8 block-mean grayscale for images; an energy-
envelope hash over 64 windows for audio), which feed the same banded
Hamming candidate machinery the text SimHash path uses — multimodal
near-dup detection with zero new shuffle machinery.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gif import decode_gif, encode_gif  # noqa: F401  (codec registry)
from .jpeg import decode_jpeg, encode_jpeg  # noqa: F401  (codec registry)

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

# Every exception an undecodable payload can raise out of the codecs:
# malformed structure (ValueError/struct.error/IndexError), unsupported
# variant (NotImplementedError), corrupt/truncated DEFLATE stream in a
# PNG IDAT (zlib.error), and a non-bytes payload cell (TypeError).
# The non-strict contract — one bad row becomes NULL/dropped, never a
# corpus-job crash — must cover ALL of these.
_DECODE_ERRORS = (
    ValueError,
    NotImplementedError,
    struct.error,
    IndexError,
    zlib.error,
    TypeError,
)


# ---------------------------------------------------------------------------
# zero-dependency codecs (pure numpy/struct)
# ---------------------------------------------------------------------------

def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP bytes."""
    h, w, _ = img.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    image_size = (row_bytes + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + image_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    # bottom-up rows, BGR order, 4-byte padded
    bgr = img[::-1, :, ::-1]
    rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → (h, w, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got bpp={bpp})")
    flip = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    bgr = rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    rgb = bgr[:, :, ::-1]
    return rgb[::-1] if flip else rgb


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → 8-bit truecolor non-interlaced PNG bytes.

    ``filter_type`` selects the per-row filter (0=None..4=Paeth) —
    mainly so tests can exercise every decoder unfilter path; 0 is the
    fastest to write and perfectly valid PNG."""
    import zlib

    h, w, _ = img.shape
    bpp = 3
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = img.astype(np.uint8).reshape(h, w * bpp).astype(np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    out_rows = []
    for r in range(h):
        row = raw[r]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), row[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]])
        if filter_type == 0:
            f = row
        elif filter_type == 1:
            f = row - left
        elif filter_type == 2:
            f = row - prev
        elif filter_type == 3:
            f = row - (left + prev) // 2
        elif filter_type == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            f = row - pred
        else:
            raise ValueError(f"PNG filter {filter_type}")
        out_rows.append(bytes([filter_type]) + (f % 256).astype(np.uint8).tobytes())
        prev = row
    idat = zlib.compress(b"".join(out_rows), 6)
    return (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit gray/RGB/RGBA non-interlaced PNG bytes → (h, w, 3) uint8
    RGB (gray broadcast to 3 channels, alpha dropped). All five row
    filters are unfiltered; Sub is a vectorized per-channel cumsum, Up
    a vectorized add, Average/Paeth a per-pixel loop (their left+up
    dependency is inherently sequential)."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = []
    while pos + 8 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + size  # len + tag + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color_type, compression, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if depth != 8 or channels is None or compression != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/RGBA non-interlaced PNG "
            f"(got depth={depth} color_type={color_type} interlace={interlace})"
        )
    stream = zlib.decompress(b"".join(idat))
    bpp = channels
    row_bytes = w * bpp
    if len(stream) < h * (1 + row_bytes):
        raise ValueError("PNG stream truncated")
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.int32)
    for r in range(h):
        start = r * (1 + row_bytes)
        ft = stream[start]
        f = np.frombuffer(stream, dtype=np.uint8, count=row_bytes, offset=start + 1).astype(np.int32)
        if ft == 0:
            row = f
        elif ft == 1:  # Sub: cumulative per channel stride
            row = np.cumsum(f.reshape(w, bpp), axis=0, dtype=np.int64).reshape(row_bytes) % 256
        elif ft == 2:  # Up
            row = (f + prev) % 256
        elif ft in (3, 4):  # Average / Paeth: left+up dependency
            row = np.zeros(row_bytes, dtype=np.int32)
            for i in range(row_bytes):
                left = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                if ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                row[i] = (f[i] + pred) % 256
        else:
            raise ValueError(f"PNG filter byte {ft}")
        out[r] = row.astype(np.uint8)
        prev = row.astype(np.int32)
    px = out.reshape(h, w, bpp)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3].copy()


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples → PCM16 WAV bytes."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


# IMA ADPCM (DVI4) tables — the standard 4-bit step-size adaptation
# (IMA Digital Audio Compression & Exchange Recommendation, 1992; the
# same tables every RIFF fmt-0x11 implementation ships).
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724,
    796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
    2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
    7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
    20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_reconstruct(pred: int, index: int, code: int) -> tuple[int, int]:
    """One IMA ADPCM step: (predictor, step index) + 4-bit code →
    next (predictor, index). Shared by encoder and decoder so the
    encoder's predictor tracks exactly what the decoder reconstructs."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if code & 4:
        diff += step
    if code & 2:
        diff += step >> 1
    if code & 1:
        diff += step >> 2
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[code & 7]))
    return pred, index


def encode_adpcm_wav(samples: np.ndarray, rate: int = 16000,
                     block_align: int = 256) -> bytes:
    """int16 mono samples → IMA ADPCM WAV bytes (RIFF fmt tag 0x11,
    4 bits/sample, ~4:1 vs PCM16). Block layout is the standard one:
    a 4-byte header (int16 predictor = the block's first sample, uint8
    step index, reserved) followed by (block_align - 4) * 2 nibbles,
    low nibble first; a ``fact`` chunk records the true sample count so
    the final block's padding decodes away."""
    s = np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767)
    spb = (block_align - 4) * 2 + 1  # samples per block
    n = len(s)
    index = 0
    blocks = []
    for start in range(0, max(n, 1), spb):
        chunk = s[start:start + spb]
        if len(chunk) == 0:
            chunk = np.zeros(1, dtype=np.int64)
        pred = int(chunk[0])
        header = struct.pack("<hBB", pred, index, 0)
        codes = []
        for x in chunk[1:]:
            step = _IMA_STEP_TABLE[index]
            delta = int(x) - pred
            code = 0
            if delta < 0:
                code = 8
                delta = -delta
            if delta >= step:
                code |= 4
                delta -= step
            if delta >= step >> 1:
                code |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                code |= 1
            pred, index = _ima_reconstruct(pred, index, code)
            codes.append(code)
        codes += [0] * ((spb - 1) - len(codes))  # final-block padding
        arr = np.asarray(codes, dtype=np.uint8)
        blocks.append(header + (arr[0::2] | (arr[1::2] << 4)).tobytes())
    data = b"".join(blocks)
    byte_rate = (rate * block_align + spb - 1) // spb
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate, byte_rate, block_align, 4, 2, spb)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 12 + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _decode_ima_blocks(payload: bytes, offset: int, size: int,
                       block_align: int, spb: int, n_samples: int | None) -> np.ndarray:
    out: list[int] = []
    for bstart in range(offset, offset + size, block_align):
        block = payload[bstart:bstart + block_align]
        if len(block) < 4:
            break
        pred, index, _ = struct.unpack_from("<hBB", block, 0)
        if index > 88:
            raise ValueError(f"IMA step index {index} out of range")
        out.append(pred)
        packed = np.frombuffer(block, dtype=np.uint8, offset=4)
        for byte in packed:
            for code in (byte & 0xF, byte >> 4):
                pred, index = _ima_reconstruct(pred, index, code)
                out.append(pred)
    arr = np.asarray(out, dtype=np.int16)
    return arr[:n_samples] if n_samples is not None else arr


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Mono WAV bytes → (int16 samples, sample rate). Two codecs: PCM16
    (fmt tag 1) and IMA ADPCM (fmt tag 0x11, the standard 4-bit
    compressed-audio WAV — decoded through the same step tables the
    encoder uses, so a PCM→ADPCM transcode round-trips within
    quantization noise)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    audio_fmt = rate = block_align = spb = fact_n = None
    data_span = None
    while pos + 8 <= len(payload):
        chunk_id, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if chunk_id == b"fmt ":
            audio_fmt, channels, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", payload, body
            )
            if audio_fmt == 1:
                if channels != 1 or bits != 16:
                    raise NotImplementedError("only mono 16-bit PCM WAV")
            elif audio_fmt == 0x11:
                if channels != 1 or bits != 4:
                    raise NotImplementedError("only mono 4-bit IMA ADPCM WAV")
                if size >= 20:
                    spb = struct.unpack_from("<H", payload, body + 18)[0]
                else:
                    spb = (block_align - 4) * 2 + 1
            else:
                raise NotImplementedError(f"WAV codec fmt tag {audio_fmt:#x}")
        elif chunk_id == b"fact":
            fact_n = struct.unpack_from("<I", payload, body)[0]
        elif chunk_id == b"data":
            data_span = (body, size)
        pos = body + size + (size % 2)
    if rate is None or data_span is None:
        raise ValueError("WAV missing fmt/data chunk")
    body, size = data_span
    if audio_fmt == 1:
        return np.frombuffer(payload, dtype="<i2", count=size // 2, offset=body), rate
    return _decode_ima_blocks(payload, body, size, block_align, spb, fact_n), rate


def _dib_pack(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → uncompressed DIB pixel data (bottom-up BGR
    rows, 4-byte padded) — the frame payload format both BMP bodies and
    raw-DIB AVI '00db' chunks use."""
    h, w, _ = img.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    bgr = img[::-1, :, ::-1]
    rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
    return rows.tobytes()


def _dib_unpack(buf: bytes, w: int, h: int) -> np.ndarray:
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h)
    bgr = rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    return bgr[::-1, :, ::-1]


def _riff_list(tag: bytes, body: bytes) -> bytes:
    return b"LIST" + struct.pack("<I", 4 + len(body)) + tag + body


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → uncompressed raw-DIB AVI bytes
    (RIFF 'AVI ', fccHandler 'DIB ', one '00db' chunk per frame)."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    frame_bytes = len(_dib_pack(frames[0])) if n else 0
    avih = b"avih" + struct.pack(
        "<I14I", 56,
        1_000_000 // max(fps, 1), frame_bytes * fps, 0, 0x10, n, 0, 1,
        frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I", 56
    ) + b"vids" + b"DIB " + struct.pack(
        "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, max(fps, 1), 0, n, frame_bytes,
        0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = b"strf" + struct.pack(
        "<I", 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi = _riff_list(
        b"movi",
        b"".join(
            b"00db" + struct.pack("<I", frame_bytes) + _dib_pack(f)
            for f in frames
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> np.ndarray:
    """Raw-DIB AVI bytes → (n, h, w, 3) uint8 RGB frames. Only the
    uncompressed 24-bit 'DIB ' stream this module writes (and any
    standard raw-video AVI with biCompression=0) is supported;
    compressed fourccs raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    w = h = None
    frames: list[np.ndarray] = []

    def walk(start: int, end: int) -> None:
        nonlocal w, h
        pos = start
        while pos + 8 <= end:
            tag = payload[pos:pos + 4]
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            body = pos + 8
            if tag == b"LIST":
                walk(body + 4, body + size)
            elif tag == b"strf":
                (_bisize, bw, bh, _planes, bpp, comp) = struct.unpack_from(
                    "<IiiHHI", payload, body
                )
                if bpp != 24 or comp != 0:
                    raise NotImplementedError(
                        f"only 24-bit uncompressed AVI video (bpp={bpp}, "
                        f"compression={comp:#x})"
                    )
                w, h = bw, abs(bh)
            elif tag in (b"00db", b"00dc"):
                if w is None:
                    raise ValueError("AVI frame chunk before strf header")
                frames.append(_dib_unpack(payload[body:body + size], w, h))
            pos = body + size + (size % 2)

    walk(12, len(payload))
    if w is None:
        raise ValueError("AVI missing strf header")
    if not frames:
        raise ValueError("AVI has no frames")
    return np.stack(frames)


# ---------------------------------------------------------------------------
# perceptual hashes over decoded content
# ---------------------------------------------------------------------------

def _pack_bits(bits: np.ndarray) -> int:
    """64 booleans → signed 64-bit int (bit 63 via uint64 view, same
    domain as the text simhash column)."""
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    return int(np.uint64(np.sum(weights[bits[:64].astype(bool)])).astype(np.int64))


def image_average_hash(img: np.ndarray) -> int:
    """Average-hash: grayscale → 8×8 block means → bit per cell vs the
    global mean. Robust to small pixel noise / re-encode jitter."""
    gray = img.astype(np.float64).mean(axis=2)
    blocks = np.array([
        [b.mean() for b in np.array_split(row_band, 8, axis=1)]
        for row_band in np.array_split(gray, 8, axis=0)
    ])
    return _pack_bits((blocks > blocks.mean()).ravel())


def audio_envelope_hash(samples: np.ndarray) -> int:
    """Energy-envelope hash: 64 windows of mean |amplitude|, bit per
    window vs the global mean (the mean sits between loud/quiet
    clusters; a median can land INSIDE a cluster and flip bits under
    tiny noise — same thresholding rule as the image average-hash)."""
    env = np.array([np.abs(w.astype(np.float64)).mean() if len(w) else 0.0
                    for w in np.array_split(samples, 64)])
    return _pack_bits(env > env.mean())


def resize_image(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic box-sampling resize, pure numpy: each output pixel
    is the mean of its source box (area-average when downscaling —
    anti-aliased, which is what perceptual hashing wants; degenerates
    to nearest-neighbor when upscaling). Vectorized via an integral
    image — one cumsum pass, no per-pixel Python."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"resize target {out_w}x{out_h}")
    h, w, c = img.shape
    ii = np.zeros((h + 1, w + 1, c), dtype=np.float64)
    ii[1:, 1:] = img.astype(np.float64).cumsum(axis=0).cumsum(axis=1)
    ys = np.floor(np.linspace(0, h, out_h + 1)).astype(int)
    xs = np.floor(np.linspace(0, w, out_w + 1)).astype(int)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1).clip(max=h)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1).clip(max=w)
    # upscale can clamp y0+1 past h; fall back to the last source row/col
    y0 = np.minimum(y0, h - 1)
    x0 = np.minimum(x0, w - 1)
    y1 = np.maximum(y1, y0 + 1)
    x1 = np.maximum(x1, x0 + 1)
    sums = (
        ii[y1[:, None], x1[None, :]] - ii[y0[:, None], x1[None, :]]
        - ii[y1[:, None], x0[None, :]] + ii[y0[:, None], x0[None, :]]
    )
    areas = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[..., None]
    return np.clip(np.rint(sums / areas), 0, 255).astype(np.uint8)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    to_mime: str = "image/bmp",
    id_prefix: str = "r",
    strict: bool = False,
) -> DataFrame:
    """Distributed image resize: decode each supported image payload,
    box-resample to (width, height), re-encode as ``to_mime`` — same
    schema as the input so the output unions back into a media table.
    Perceptual hashes are block means, which box-resampling preserves,
    so resized rows keep deduping against their originals
    (resolution-invariant image dedup). Non-image / undecodable rows
    are dropped under ``strict=False`` (raise under strict).

    Runs in ``mapInPandas``: payload bytes stay in Arrow batches, one
    decode+resize+encode per row, no driver involvement."""
    encoders = {
        "image/png": encode_png,
        "image/bmp": encode_bmp,
        "image/jpeg": encode_jpeg,
    }
    if to_mime not in encoders:
        raise ValueError(f"resize target mime {to_mime!r}; supported: {sorted(encoders)}")
    encode = encoders[to_mime]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("media_id", "kind", "payload", "mime",
                                   "width", "height", "duration_ms")}
            for mid, kind, p, mime in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["mime"]
            ):
                try:
                    if mime not in _IMAGE_DECODERS or p is None:
                        raise NotImplementedError(f"cannot resize mime {mime!r}")
                    img = resize_image(_IMAGE_DECODERS[mime](bytes(p)), width, height)
                except _DECODE_ERRORS:
                    if strict:
                        raise
                    continue
                out["media_id"].append(id_prefix + mid)
                out["kind"].append(kind)
                out["payload"].append(encode(img))
                out["mime"].append(to_mime)
                out["width"].append(width)
                out["height"].append(height)
                out["duration_ms"].append(None)
            yield pd.DataFrame(out)

    return media.select(
        "media_id", "kind", "payload", "mime", "width", "height", "duration_ms"
    ).mapInPandas(batches, MEDIA_SCHEMA)


def video_average_hash(frames: np.ndarray, max_frames: int = 16) -> int:
    """Frame-sampled video hash: sample up to ``max_frames`` frames
    evenly across the clip, average them into one mean frame, then
    apply the image average-hash. Robust to per-frame noise (the mean
    divides it by √n) and to re-encodes; NOT order-sensitive — two
    clips that are frame permutations of each other collide, which is
    the right default for near-dup detection of re-cut boilerplate."""
    n = len(frames)
    idx = np.linspace(0, n - 1, min(n, max_frames)).round().astype(int)
    mean_frame = frames[idx].astype(np.float64).mean(axis=0)
    return image_average_hash(mean_frame)


_IMAGE_DECODERS = {
    "image/bmp": decode_bmp,
    "image/png": decode_png,
    "image/jpeg": decode_jpeg,
    "image/gif": decode_gif,
}

# both route through decode_wav (the RIFF container dispatches on the
# fmt tag); the distinct mime lets a catalog label the codec and the
# transcode verb pick a target
_AUDIO_MIMES = {"audio/wav", "audio/adpcm"}


def perceptual_hashes(media: DataFrame, strict: bool = True) -> DataFrame:
    """→ (media_id, kind, phash long): 64-bit perceptual hash over the
    DECODED content (average-hash for BMP/PNG images, energy-envelope
    hash for WAV audio) via mapInPandas — payload bytes stay in Arrow
    batches. Unsupported mimes raise under ``strict`` (default: a
    perceptual hash of undecodable bytes would be meaningless), else
    the row is emitted with phash NULL so callers can filter — and the
    NULL contract covers codec-level NotImplementedError too (e.g. a
    payload declared image/bmp whose header says bpp != 24), not just
    malformed bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "kind": [], "phash": []}
            for mid, kind, mime, p in zip(
                pdf["media_id"], pdf["kind"], pdf["mime"], pdf["payload"]
            ):
                ph = None
                try:
                    if mime in _IMAGE_DECODERS and p is not None:
                        ph = image_average_hash(_IMAGE_DECODERS[mime](p))
                    elif mime in _AUDIO_MIMES and p is not None:
                        ph = audio_envelope_hash(decode_wav(p)[0])
                    elif mime == "video/avi" and p is not None:
                        ph = video_average_hash(decode_avi(p))
                    elif strict:
                        raise NotImplementedError(
                            f"decoding mime {mime!r} requires codec libraries "
                            "not present in this image"
                        )
                except _DECODE_ERRORS:
                    if strict:
                        raise
                    ph = None
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["phash"].append(ph)
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "mime", "payload").mapInPandas(
        batches, "media_id string, kind string, phash long"
    )


def transcode_media(
    media: DataFrame,
    to_mime: str = "image/png",
    id_prefix: str = "p",
    strict: bool = False,
    jpeg_quality: int = 95,
) -> DataFrame:
    """Distributed image transcode: decode each supported image payload
    and re-encode it as ``to_mime`` (image/png, image/bmp, or
    image/jpeg), emitting (media_id = id_prefix + original media_id,
    kind, payload, mime, ...) rows with the SAME schema as the input so
    the output unions back into a media table. PNG/BMP targets preserve
    the decoded pixels exactly (lossless); a JPEG target is lossy by
    nature (``jpeg_quality``), but perceptual hashes are designed to
    survive it — cross-format dedup covers all three. Non-image or
    undecodable rows are dropped under ``strict=False`` (raise under
    strict).

    Audio targets work the same way: ``audio/wav`` (PCM16) and
    ``audio/adpcm`` (IMA ADPCM, fmt 0x11) re-encode the decoded sample
    stream — ADPCM is lossy (4-bit) by nature, but the energy-envelope
    hash is designed to survive its quantization noise, so PCM↔ADPCM
    cross-codec dedup rides the same machinery as the image formats.

    Runs in ``mapInPandas``: payload bytes stay in Arrow batches, one
    decode+encode per row, no driver involvement."""
    encoders = {
        "image/png": encode_png,
        "image/bmp": encode_bmp,
        "image/jpeg": lambda img: encode_jpeg(img, quality=jpeg_quality),
        # palette format: lossless for <=256-color content, raises
        # beyond (routed to drop/raise by the strict flag like any
        # other undecodable/unencodable row)
        "image/gif": encode_gif,
    }
    audio_encoders = {
        "audio/wav": encode_wav,
        "audio/adpcm": encode_adpcm_wav,
    }
    if to_mime not in encoders and to_mime not in audio_encoders:
        raise ValueError(
            f"transcode target {to_mime!r}; supported: "
            f"{sorted(encoders) + sorted(audio_encoders)}"
        )
    audio_target = to_mime in audio_encoders
    encode = audio_encoders[to_mime] if audio_target else encoders[to_mime]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("media_id", "kind", "payload", "mime",
                                   "width", "height", "duration_ms")}
            for mid, kind, p, mime in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["mime"]
            ):
                try:
                    if audio_target:
                        if mime not in _AUDIO_MIMES or p is None:
                            raise NotImplementedError(
                                f"cannot transcode mime {mime!r} to {to_mime!r}"
                            )
                        samples, rate = decode_wav(bytes(p))
                        payload = encode(samples, rate)
                        w = h = None
                        dur = int(len(samples) * 1000 // max(rate, 1))
                    else:
                        if mime not in _IMAGE_DECODERS or p is None:
                            raise NotImplementedError(f"cannot transcode mime {mime!r}")
                        img = _IMAGE_DECODERS[mime](bytes(p))
                        payload = encode(img)
                        w, h = img.shape[1], img.shape[0]
                        dur = None
                except _DECODE_ERRORS:
                    if strict:
                        raise
                    continue
                # prefix the FULL original id (never a lossy digits-only
                # strip: ids differing only in non-digit chars — 'a1' vs
                # 'b1' — would silently collide in the output catalog)
                out["media_id"].append(id_prefix + mid)
                out["kind"].append(kind)
                out["payload"].append(payload)
                out["mime"].append(to_mime)
                out["width"].append(w)
                out["height"].append(h)
                out["duration_ms"].append(dur)
            yield pd.DataFrame(out)

    return media.select(
        "media_id", "kind", "payload", "mime", "width", "height", "duration_ms"
    ).mapInPandas(batches, MEDIA_SCHEMA)


def phash_dup_pairs(
    media: DataFrame, max_hamming: int = 3, strict: bool = False
) -> DataFrame:
    """Multimodal near-dup pairs: perceptual hash → the SAME banded
    Hamming candidate machinery as the text SimHash path (pigeonhole-
    complete for max_hamming < 4 bands), scoped per media kind so an
    image can never pair with an audio clip.

    Defaults to ``strict=False``: undecodable rows hash to NULL and the
    filter below drops them, so one unsupported-mime row cannot fail a
    corpus-wide dedup job (pass ``strict=True`` to fail fast instead —
    e.g. when the corpus is contractually all-BMP/WAV).

    → (media_id_a, media_id_b, kind, hamming)."""
    from .simhash import simhash_candidates

    sig = perceptual_hashes(media, strict=strict).filter(F.col("phash").isNotNull())
    keyed = sig.select(
        "kind", F.col("media_id").alias("url"), F.col("phash").alias("simhash")
    )
    return simhash_candidates(
        keyed, max_hamming=max_hamming, scope_cols=["kind"]
    ).select(
        F.col("url_a").alias("media_id_a"),
        F.col("url_b").alias("media_id_b"),
        "kind",
        "hamming",
    )


def exact_dup_media(media: DataFrame) -> DataFrame:
    """Exact payload dedup: sha2 over binary + length blocking — the
    reference's (hash, size) grouping applied to opaque payloads."""
    sigs = media.select(
        "media_id",
        F.sha2("payload", 256).alias("payload_sha"),
        F.length("payload").alias("n_bytes"),
    )
    groups = (
        sigs.groupBy("payload_sha", "n_bytes")
        .agg(F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )
    return sigs.join(F.broadcast(groups), ["payload_sha", "n_bytes"])
