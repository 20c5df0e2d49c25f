"""Deterministic image codecs for the image+caption payload.

The payload schema is the BASELINE input_hint:
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)``.

The sandbox has no image libraries (no PIL/opencv), so the codecs here are
self-contained and deterministic:

* ``png``  — a REAL minimal PNG (8-bit RGB, zlib, filter 0): lossless,
  readable by any standard decoder.  Exercises the exact-equality branch of
  the per-row invariant.
* ``jpeg`` — a REAL baseline JPEG (r6; ``sources/jpeg.py``, pure-numpy
  ITU-T T.81 implementation: JFIF, 4:4:4, Annex K tables, standard Huffman
  coding).  Payloads encode at IJG quality 98 — measured ~43-44 dB PSNR on
  the structured test images, above the ≥40 dB validation gate — and the
  bytes are standard JPEGs any decoder can read; any other bytes under
  ``fmt = "jpeg"`` raise ``ValueError``.

phash: 8×8 mean hash over a grayscale box-downsample → int64, the payload's
``phash`` column and the near-duplicate key for image dedup.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """8-bit RGB (h, w, 3) → standard PNG bytes (filter 0 per scanline)."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNGs produced by encode_png (8-bit RGB, filters 0-only)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", body[:8])
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    if raw[:, 0].any():
        raise ValueError("unsupported PNG filter")
    return raw[:, 1:].reshape(h, w, 3).copy()


#: IJG quality for payload JPEGs: ~43-44 dB on the structured test images —
#: above the ≥40 dB lossy validation gate with margin
JPEG_QUALITY = 98


def encode_lossy(pixels: np.ndarray) -> bytes:
    """REAL baseline JPEG bytes (sources/jpeg.py; standard JFIF output)."""
    from govuk_crawler_worker_spark.sources.jpeg import encode_jpeg

    return encode_jpeg(pixels, quality=JPEG_QUALITY)


def decode_lossy(data: bytes) -> np.ndarray:
    """Lossy payload decode: a real JPEG (SOI marker), else ValueError."""
    if data[:2] == b"\xff\xd8":
        from govuk_crawler_worker_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(data)
    raise ValueError("not a JPEG payload")


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Dispatch on the payload ``fmt`` column."""
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        return decode_lossy(data)
    raise NotImplementedError(
        f"decode for fmt={fmt!r} requires an image library not present in this "
        "container; plumbing is format-agnostic"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """8×8 mean hash → signed int64 (the payload ``phash`` column)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    small = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (small > small.mean()).flatten()
    value = 0
    for bit in bits:
        value = (value << 1) | int(bit)
    return value - (1 << 64) if value >= (1 << 63) else value


def make_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Deterministic structured test image: smooth gradient + seeded noise
    (smooth content keeps lossy PSNR meaningful, noise keeps phashes apart)."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 / max(w - 1, 1)),
            (yy * 255 / max(h - 1, 1)),
            ((xx + yy) * 255 / max(w + h - 2, 1)),
        ],
        axis=-1,
    )
    noise = rng.integers(-16, 17, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


# -- video containers ----------------------------------------------------------
# r6: a REAL Motion-JPEG AVI (RIFF 'AVI ' per the public Microsoft AVI RIFF
# spec; one baseline-JPEG '00dc' chunk per frame via sources/jpeg.py) is the
# primary video format — standard players and ffmpeg read these bytes.  The
# legacy deterministic raw container ("NVID1", r2) remains decodable for
# payloads persisted by older catalogs:
#
#   NVID1 := b"NVID1" | u16 n_frames | u16 w | u16 h | n·(w·h·3 raw RGB)

VIDEO_MAGIC = b"NVID1"


def encode_video(frames: "list[np.ndarray]") -> bytes:
    """Frames → raw NVID1 bytes (lossless; kept for exact-roundtrip tests
    and legacy payloads).  New payloads should prefer encode_avi_mjpeg."""
    import struct

    h, w, _ = frames[0].shape
    out = [VIDEO_MAGIC, struct.pack(">HHH", len(frames), w, h)]
    for f in frames:
        assert f.shape == (h, w, 3)
        out.append(f.astype(np.uint8).tobytes())
    return b"".join(out)


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""  # RIFF chunks are word-aligned
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(kind: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + body)


def encode_avi_mjpeg(
    frames: "list[np.ndarray]", fps: int = 10, quality: int = 90
) -> bytes:
    """Frames → REAL Motion-JPEG AVI bytes (RIFF 'AVI ': avih + 'vids'/'MJPG'
    stream header + BITMAPINFOHEADER, one baseline-JPEG '00dc' chunk per
    frame, idx1 index) — playable by any standard tool."""
    from govuk_crawler_worker_spark.sources.jpeg import encode_jpeg

    h, w, _ = frames[0].shape
    jpegs = [encode_jpeg(f, quality) for f in frames]
    max_sz = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // max(fps, 1),  # microseconds per frame
        max_sz * fps,  # max bytes/sec
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max_sz, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        # flags, priority, language, initial_frames, scale, rate, start,
        # length, suggested_buffer, quality, sample_size (AVISTREAMHEADER)
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), max_sz, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for j in jpegs:
        offsets.append(len(movi_body))  # offset of the chunk tag within movi
        movi_body += _riff_chunk(b"00dc", j)
    movi = _riff_chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(j))
        for off, j in zip(offsets, jpegs)
    )
    riff_body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", idx1)
    return _riff_chunk(b"RIFF", riff_body)


def decode_avi_mjpeg(data: bytes) -> "list[np.ndarray]":
    """Walk the RIFF tree (the same chunk discipline as the WAV codec,
    sources/audio.py) and decode every '00dc'/'00db' MJPEG frame chunk."""
    from govuk_crawler_worker_spark.sources.jpeg import decode_jpeg

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    frames: list[np.ndarray] = []

    def walk(buf: bytes) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            tag = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + size]
            if tag == b"LIST":
                walk(body[4:])  # skip the list kind
            elif tag in (b"00dc", b"00db") and body[:2] == b"\xff\xd8":
                frames.append(decode_jpeg(body))
            pos += 8 + size + (size % 2)

    walk(data[12:])
    return frames


def decode_video(data: bytes) -> "list[np.ndarray]":
    """Container dispatch: real MJPEG-AVI, or the legacy NVID1 raw format."""
    import struct

    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return decode_avi_mjpeg(data)
    if data[:5] != VIDEO_MAGIC:
        raise NotImplementedError(
            "unknown video container; real deployments plug ffmpeg here"
        )
    n, w, h = struct.unpack(">HHH", data[5:11])
    frame_sz = w * h * 3
    return [
        np.frombuffer(data[11 + i * frame_sz : 11 + (i + 1) * frame_sz], np.uint8)
        .reshape(h, w, 3)
        .copy()
        for i in range(n)
    ]
