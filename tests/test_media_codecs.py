"""Pure-numpy media codecs (BMP / PPM / WAV / PNG) and the
nearest-neighbor resize they feed."""

from __future__ import annotations

import numpy as np
import pytest

from cli_spark.ops import media_codecs as mc


def _img(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


# ------------------------------------------------------------ round trips


@pytest.mark.parametrize("h,w", [(7, 5), (16, 16), (3, 9)])  # odd widths hit BMP row padding
def test_bmp_roundtrip(h, w):
    img = _img(h, w)
    np.testing.assert_array_equal(mc.decode_bmp(mc.encode_bmp(img)), img)


def test_bmp_rejects_non_bmp():
    with pytest.raises(ValueError):
        mc.decode_bmp(b"P6\n1 1\n255\n\x00\x00\x00")


@pytest.mark.parametrize("h,w", [(4, 6), (11, 3)])
def test_ppm_roundtrip(h, w):
    img = _img(h, w, seed=1)
    np.testing.assert_array_equal(mc.decode_ppm(mc.encode_ppm(img)), img)


def test_ppm_comment_header():
    img = _img(2, 2, seed=2)
    blob = b"P6\n# a comment\n2 2\n255\n" + img.tobytes()
    np.testing.assert_array_equal(mc.decode_ppm(blob), img)


def test_wav_roundtrip():
    pcm = np.random.default_rng(3).integers(-32768, 32768, 1000).astype(np.int16)
    sr, back = mc.decode_wav(mc.encode_wav(pcm, 8000))
    assert sr == 8000
    np.testing.assert_array_equal(back, pcm)


def test_split_ppm_frames():
    frames = [_img(4, 4, seed=i) for i in range(5)]
    blob = b"".join(mc.encode_ppm(f) for f in frames)
    out = mc.split_ppm_frames(blob)
    assert len(out) == 5
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


# ------------------------------------------------------------ transforms


def test_resize_nearest_identity_and_downscale():
    img = _img(8, 8, seed=4)
    np.testing.assert_array_equal(mc.resize_nearest(img, 8, 8), img)
    half = mc.resize_nearest(img, 4, 4)
    assert half.shape == (4, 4, 3)
    # pixel-center convention: output (0,0) samples input (1,1)
    np.testing.assert_array_equal(half[0, 0], img[1, 1])


# ------------------------------------------------------------ PNG


@pytest.mark.parametrize("shape", [(7, 5), (16, 16, 3), (3, 9, 4)])
def test_png_roundtrip(shape):
    arr = np.random.default_rng(3).integers(0, 256, shape, dtype=np.uint8)
    out = mc.decode_png(mc.encode_png(arr))
    np.testing.assert_array_equal(out, arr)


def _filter_png(arr, ftypes):
    """Build a PNG whose scanlines use the given filter types (forward
    filtering done here independently of the codec under test)."""
    import struct
    import zlib

    h, w, ch = arr.shape
    bpp = ch
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        ft = ftypes[y % len(ftypes)]
        if ft == 0:
            enc = line
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = line - left
        elif ft == 2:  # Up
            enc = line - prior
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = line - (left + prior) // 2
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prior[:-bpp]])
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul))
            enc = line - pred
        raw.append(ft)
        raw += (enc % 256).astype(np.uint8).tobytes()
        prior = line

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftypes", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_all_filter_types(ftypes):
    arr = np.random.default_rng(7).integers(0, 256, (11, 6, 3), dtype=np.uint8)
    out = mc.decode_png(_filter_png(arr, ftypes))
    np.testing.assert_array_equal(out, arr)


def test_png_gray_and_alpha_normalize():
    gray = np.random.default_rng(1).integers(0, 256, (5, 4), dtype=np.uint8)
    out = mc.decode_png(mc.encode_png(gray))
    assert out.shape == (5, 4)
    np.testing.assert_array_equal(out, gray)
    rgba = np.random.default_rng(2).integers(0, 256, (5, 4, 4), dtype=np.uint8)
    out = mc.decode_png(mc.encode_png(rgba))
    assert out.shape == (5, 4, 4)
    np.testing.assert_array_equal(out, rgba)


def test_png_palette():
    import struct
    import zlib

    idx = np.random.default_rng(5).integers(0, 4, (6, 7), dtype=np.uint8)
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8)
    raw = bytearray()
    for y in range(6):
        raw.append(0)
        raw += idx[y].tobytes()

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 6, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(mc.decode_png(blob), plte[idx])


def test_png_rejects():
    with pytest.raises(ValueError):
        mc.decode_png(b"nope")
    import struct
    import zlib

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        mc.decode_png(interlaced)


def test_wav_stereo_downmix_and_8bit():
    t = np.arange(800)
    left = (3000 * np.sin(t / 7.0)).astype(np.int16)
    right = (3000 * np.sin(t / 11.0)).astype(np.int16)
    rate, mono = mc.decode_wav(mc.encode_wav(np.stack([left, right], axis=1), 8000))
    assert rate == 8000 and mono.shape == (800,)
    expect = ((left.astype(np.int32) + right.astype(np.int32)) // 2).astype(np.int16)
    assert np.array_equal(mono, expect)

    # hand-build an 8-bit unsigned mono WAV
    u8 = ((np.sin(t / 5.0) * 100) + 128).astype(np.uint8)
    fmt = np.array([1, 1], dtype="<u2").tobytes() + np.array([8000, 8000], dtype="<u4").tobytes() + np.array([1, 8], dtype="<u2").tobytes()
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(u8).to_bytes(4, "little") + u8.tobytes()
    blob = b"RIFF" + len(chunks).to_bytes(4, "little") + chunks
    rate, wide = mc.decode_wav(blob)
    assert rate == 8000
    assert np.array_equal(wide, (u8.astype(np.int16) - 128) << 8)

    # μ-law (fmt 7) still rejected with a typed error
    bad = bytearray(blob)
    bad[20] = 7
    with pytest.raises(NotImplementedError):
        mc.decode_wav(bytes(bad))
