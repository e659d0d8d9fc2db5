"""Pure-numpy codecs for media containers: 24-bit BMP, binary PPM (P6),
PCM-16 WAV and PNG (via stdlib zlib) — no external codec library.

These give :mod:`cli_spark.ops.multimodal`'s decode battery (q40) REAL
decode / resize / frame-split paths with zero new dependencies. The
reference CLI has no media path at all; this exists for the
training-data-pipeline side of the engine (multimodal columns over
Iceberg binary columns), where uncompressed intermediates are the
common on-cluster representation.

All functions are bytes→ndarray/ndarray→bytes on one object; callers
batch them through Arrow (mapInPandas). The inner work is vectorized
numpy (frombuffer + stride tricks); PNG un-filtering vectorizes None/Up
fully and Sub as a per-lane cumulative sum mod 256 — only
Average/Paeth rows (rare in practice; our encoder never emits them)
fall back to a per-column loop over vectorized channel lanes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- BMP


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP."""
    h, w, c = arr.shape
    assert c == 3, "RGB only"
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # BMP stores BGR, bottom row first, rows padded to 4 bytes
    bgr = arr[::-1, :, ::-1].astype(np.uint8, copy=False)
    if pad:
        rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    data_off = 14 + 40
    file_size = data_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def decode_bmp(blob: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB. Top-down (negative
    height) and bottom-up layouts both supported."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP stream")
    (data_off,) = struct.unpack_from("<I", blob, 10)
    (hdr_size,) = struct.unpack_from("<I", blob, 14)
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    (compression,) = struct.unpack_from("<I", blob, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP (got bpp={bpp}, comp={compression})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(blob, dtype=np.uint8, count=h * stride, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB, contiguous


# ---------------------------------------------------------------- PPM (P6)


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → binary PPM (P6, maxval 255)."""
    h, w, c = arr.shape
    assert c == 3, "RGB only"
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8, copy=False).tobytes()


def _ppm_header(blob: bytes, start: int = 0) -> tuple[int, int, int]:
    """Parse 'P6 <w> <h> <maxval>' with comment/whitespace handling;
    returns (w, h, offset-of-pixel-data)."""
    if blob[start : start + 2] != b"P6":
        raise ValueError("not a P6 PPM stream")
    pos = start + 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        num = b""
        while pos < len(blob) and blob[pos : pos + 1].isdigit():
            num += blob[pos : pos + 1]
            pos += 1
        if not num:
            raise ValueError("malformed PPM header")
        fields.append(int(num))
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    return w, h, pos + 1  # single whitespace byte after maxval


def decode_ppm(blob: bytes, start: int = 0) -> np.ndarray:
    w, h, off = _ppm_header(blob, start)
    px = np.frombuffer(blob, dtype=np.uint8, count=h * w * 3, offset=off)
    return px.reshape(h, w, 3).copy()


def split_ppm_frames(blob: bytes) -> list[np.ndarray]:
    """Concatenated-P6 'video' container → list of frames (each stream's
    length is implied by its own header, so frames split exactly)."""
    frames = []
    pos = 0
    while pos < len(blob):
        w, h, off = _ppm_header(blob, pos)
        frames.append(
            np.frombuffer(blob, dtype=np.uint8, count=h * w * 3, offset=off)
            .reshape(h, w, 3)
            .copy()
        )
        pos = off + h * w * 3
    return frames


# ---------------------------------------------------------------- WAV (PCM16)


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 PCM → RIFF/WAVE: 1-D mono or (n, 2) interleaved stereo."""
    a = np.asarray(samples)
    channels = 1 if a.ndim == 1 else a.shape[1]
    pcm = a.astype("<i2", copy=False).tobytes()
    block = 2 * channels
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, 16
    )
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM → (sample_rate, 1-D int16 ndarray). Walks the chunk
    list (fmt /data may be separated by LIST etc.). 8-bit unsigned PCM
    widens to int16; stereo downmixes to mono (mean of channels — the
    feature pipeline's convention). Non-PCM codings (μ-law, float,
    ADPCM…) raise typed errors."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    sample_rate = None
    channels = bits = None
    raw = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate = struct.unpack_from("<HHI", blob, body)
            if audio_fmt != 1:
                raise NotImplementedError(f"only PCM WAV (fmt tag {audio_fmt})")
            if channels not in (1, 2):
                raise NotImplementedError(f"only mono/stereo WAV ({channels} ch)")
            bits = struct.unpack_from("<H", blob, body + 14)[0]
            if bits not in (8, 16):
                raise NotImplementedError(f"only 8/16-bit PCM WAV ({bits}-bit)")
        elif cid == b"data":
            raw = blob[body : body + size]
        pos = body + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or raw is None or bits is None:
        raise ValueError("WAV missing fmt/data chunk")
    if bits == 8:  # unsigned 8-bit → centered int16
        data = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
    else:
        data = np.frombuffer(raw, dtype="<i2").astype(np.int16)
    if channels == 2:
        n = len(data) // 2
        pair = data[: 2 * n].reshape(n, 2).astype(np.int32)
        data = ((pair[:, 0] + pair[:, 1]) // 2).astype(np.int16)
    return sample_rate, data.copy()


# ---------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (bit depth 8)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w) gray / (h, w, 3) RGB / (h, w, 4) RGBA uint8 → PNG.

    Emits filter type 0 (None) on every scanline and a single zlib IDAT
    chunk — a valid, universally-readable stream (we trade a few % of
    compression for a fully vectorized encoder)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, ch = 0, 1
        a = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, ch = 2, 3
    elif a.ndim == 3 and a.shape[2] == 4:
        color_type, ch = 6, 4
    else:
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w = a.shape[:2]
    # prepend the per-scanline filter byte (0 = None) columnarly
    raw = np.zeros((h, 1 + w * ch), dtype=np.uint8)
    raw[:, 1:] = a.reshape(h, w * ch)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters. ``raw`` is (h, 1+stride) uint8 with the
    filter byte in column 0; returns (h, stride) reconstructed bytes.

    None/Up are whole-row vectorized; Sub is a per-lane cumulative sum
    (recon[x] = Σ raw mod 256 along each bpp-stride lane); Average and
    Paeth need the serial left-neighbor, so those rows run a loop over
    columns with all channel lanes vectorized per step."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:]
        if ftype == 0:  # None
            rec = line.copy()
        elif ftype == 2:  # Up
            rec = line + prior  # uint8 wraps mod 256
        elif ftype == 1:  # Sub: cumsum along each byte lane
            rec = (
                np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.int64) % 256
            ).astype(np.uint8).reshape(stride)
        elif ftype == 3:  # Average
            rec = np.empty(stride, dtype=np.uint8)
            rec[:bpp] = line[:bpp] + prior[:bpp] // 2
            for x in range(bpp, stride, bpp):
                left = rec[x - bpp : x].astype(np.int32)
                up = prior[x : x + bpp].astype(np.int32)
                rec[x : x + bpp] = line[x : x + bpp] + ((left + up) // 2).astype(np.uint8)
        elif ftype == 4:  # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            rec[:bpp] = line[:bpp] + prior[:bpp]  # left/ul are 0 → predictor = up
            for x in range(bpp, stride, bpp):
                a = rec[x - bpp : x].astype(np.int32)
                b = prior[x : x + bpp].astype(np.int32)
                c = prior[x - bpp : x].astype(np.int32)
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                rec[x : x + bpp] = line[x : x + bpp] + pred.astype(np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        out[y] = rec
        prior = rec
    return out


def decode_png(blob: bytes) -> np.ndarray:
    """PNG → uint8 ndarray: (h, w) for grayscale, (h, w, 3) for
    RGB/palette, (h, w, 2)/(h, w, 4) with alpha. Bit depth 8,
    non-interlaced (Adam7 raises NotImplementedError — progressive
    layout, not a different compression)."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + body + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8 supported)")
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != height * (1 + stride):
        raise ValueError("PNG IDAT size mismatch")
    rec = _png_unfilter(raw.reshape(height, 1 + stride), height, stride, ch)
    if color_type == 3:  # palette-indexed → RGB
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[rec.reshape(height, width)].copy()
    if ch == 1:
        return rec.reshape(height, width).copy()
    return rec.reshape(height, width, ch).copy()


# ---------------------------------------------------------------- transforms


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample via vectorized index sampling (the
    pixel-center convention scipy/PIL use: src = floor((i+0.5)*scale))."""
    h, w = arr.shape[:2]
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return arr[ys[:, None], xs[None, :]]
