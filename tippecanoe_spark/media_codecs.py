"""Pure-stdlib media codecs for the multimodal pipeline.

No imaging/audio libraries exist in this container, but several real
formats decode with nothing beyond zlib/wave/struct + numpy:

- PNG  (8-bit gray/RGB/RGBA, non-interlaced): chunk walk, zlib inflate,
  scanline unfilter (all five filter types).
- BMP  (uncompressed 24/32-bit BI_RGB, bottom-up or top-down).
- PPM/PGM (P5/P6 binary), including CONCATENATED frames as a raw video
  stream (mime video/x-raw-ppm) for the frame-sampling path.
- WAV  (PCM integer sample widths 1/2/4) via the stdlib wave module.

Encoders for PNG/BMP/PPM/WAV exist too — the synthetic media table
writes real payloads so the decode pipeline is exercised end to end
(and the driver's multimodal oracle can predict the decoded dimensions
relationally).  JPEG/MP4/etc. remain the documented stub: decoding them
needs codecs this environment does not have.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w) gray or (h, w, 3|4) uint8 → PNG bytes (filter 0 rows)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color_type, channels = 0, 1
        h, w = px.shape
    else:
        h, w, channels = px.shape
        color_type = {1: 0, 3: 2, 4: 6}[channels]
    raw = bytearray()
    flat = px.reshape(h, w * channels)
    for r in range(h):
        raw.append(0)
        raw += flat[r].tobytes()

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, channels) uint8 (8-bit, non-interlaced)."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0:
        raise ValueError("only 8-bit non-interlaced PNG supported")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    out = np.empty((h, stride), dtype=np.uint8)
    bpp = channels
    pos = 0
    # int32 row accumulators: filter sums wrap with & 0xFF, never in uint8
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(
            np.int32
        )
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # sub: a running sum per channel
            row = np.cumsum(row.reshape(w, bpp), axis=0, dtype=np.int64).reshape(
                stride
            ).astype(np.int32) & 0xFF
        elif ftype == 2:  # up
            row = (row + prev) & 0xFF
        elif ftype in (3, 4):  # average / paeth: sequential along the row
            cur, up = row.tolist(), prev.tolist()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                if ftype == 3:
                    pred = (left + up[i]) >> 1
                else:
                    pred = _paeth(left, up[i], up[i - bpp] if i >= bpp else 0)
                cur[i] = (cur[i] + pred) & 0xFF
            row = np.array(cur, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[r] = row
        prev = row
    return out.reshape(h, w, channels)


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP bytes."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    bgr = px[:, :, ::-1]
    pad = (-(w * 3)) % 4
    rows = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        rows += bgr[r].tobytes()
        rows += b"\x00" * pad
    data = bytes(rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def decode_bmp(data: bytes) -> np.ndarray:
    """24/32-bit uncompressed BMP → (h, w, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (comp,) = struct.unpack_from("<I", data, 30)
    if comp != 0 or bpp not in (24, 32):
        raise ValueError("only uncompressed 24/32-bit BMP supported")
    flip = h > 0
    h = abs(h)
    nb = bpp // 8
    stride = (w * nb + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for r in range(h):
        src = off + r * stride
        row = np.frombuffer(data, dtype=np.uint8, count=w * nb, offset=src)
        row = row.reshape(w, nb)
        dst = (h - 1 - r) if flip else r
        out[dst] = row[:, 2::-1][:, :3] if nb >= 3 else row
    return out


# ---------------------------------------------------------------------------
# PPM / PGM (+ concatenated frames as raw video)
# ---------------------------------------------------------------------------

def encode_ppm(pixels: np.ndarray) -> bytes:
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        h, w = px.shape
        return b"P5 %d %d 255\n" % (w, h) + px.tobytes()
    h, w, _ = px.shape
    return b"P6 %d %d 255\n" % (w, h) + px.tobytes()


def _decode_one_ppm(data: bytes, pos: int) -> tuple[np.ndarray, int]:
    tokens = []
    while len(tokens) < 4:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(data[start:pos])
    pos += 1  # single whitespace after maxval
    magic, w, h = tokens[0], int(tokens[1]), int(tokens[2])
    if magic == b"P6":
        n = w * h * 3
        px = np.frombuffer(data, np.uint8, count=n, offset=pos).reshape(h, w, 3)
    elif magic == b"P5":
        n = w * h
        px = np.frombuffer(data, np.uint8, count=n, offset=pos).reshape(h, w)
    else:
        raise ValueError("only binary P5/P6 supported")
    return px, pos + n


def decode_ppm_frames(data: bytes) -> list[np.ndarray]:
    """One or more concatenated P5/P6 frames (video/x-raw-ppm)."""
    frames = []
    pos = 0
    while pos < len(data) and data[pos : pos + 1] == b"P":
        px, pos = _decode_one_ppm(data, pos)
        frames.append(px)
    if not frames:
        raise ValueError("no PPM frames")
    return frames


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 mono samples → PCM WAV bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV bytes → (float32 mono samples in [-1, 1], sample_rate)."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        nch = wf.getnchannels()
        sw = wf.getsampwidth()
        rate = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    if sw == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 1:
        arr = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sw == 4:
        arr = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported sample width {sw}")
    if nch > 1:
        arr = arr.reshape(-1, nch).mean(axis=1)
    return arr, rate


# ---------------------------------------------------------------------------
# shared feature/resize kernels
# ---------------------------------------------------------------------------

def sniff(data: bytes) -> str | None:
    if data[:8] == _PNG_MAGIC:
        return "image/png"
    if data[:2] == b"BM":
        return "image/bmp"
    if data[:2] in (b"P5", b"P6"):
        return "image/x-portable-anymap"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    return None


def image_feature(px: np.ndarray, grid: int = 4) -> np.ndarray:
    """Grayscale grid×grid mean-pool → grid² floats in [0, 1]."""
    if px.ndim == 3:
        gray = px[:, :, :3].astype(np.float32).mean(axis=2)
    else:
        gray = px.astype(np.float32)
    h, w = gray.shape
    ys = (np.arange(grid + 1) * h) // grid
    xs = (np.arange(grid + 1) * w) // grid
    out = np.empty(grid * grid, dtype=np.float32)
    for i in range(grid):
        for j in range(grid):
            cell = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                        xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i * grid + j] = float(cell.mean()) / 255.0
    return out


def audio_feature(samples: np.ndarray, bands: int = 16) -> np.ndarray:
    """RMS over ``bands`` equal time segments."""
    n = len(samples)
    if n == 0:
        return np.zeros(bands, dtype=np.float32)
    edges = (np.arange(bands + 1) * n) // bands
    out = np.empty(bands, dtype=np.float32)
    for i in range(bands):
        seg = samples[edges[i] : max(edges[i + 1], edges[i] + 1)]
        out[i] = float(np.sqrt(np.mean(seg.astype(np.float64) ** 2)))
    return out


def resize_image(px: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resize (pure index math)."""
    h, w = px.shape[:2]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return px[ys][:, xs]
