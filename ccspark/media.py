"""Pure-stdlib media codecs: PNG and WAV, dependency-free.

The container ships no PIL/opencv, but PNG is zlib + per-scanline
filters and WAV is a RIFF header + PCM frames — both decodable with the
standard library plus numpy.  This turns the multimodal pipeline's
decode stage into a REAL decode for the two most common training-data
formats (JPEG stays stubbed: a faithful DCT decoder is out of scope).

decode_png supports 8-bit depth, color types 0 (gray), 2 (RGB),
3 (palette), 4 (gray+alpha), 6 (RGBA), filters 0-4, non-interlaced —
the overwhelming share of real-world PNGs.  encode_png (filter 0,
RGB/gray) exists so tests and queries can synthesize deterministic
payloads without any external fixture.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, row_filters=None) -> bytes:
    """uint8 HxW (gray) or HxWx3 (RGB) or HxWx4 (RGBA) → PNG bytes.

    ``row_filters`` optionally assigns a filter type (0-4) per scanline
    (int or sequence) — the encoder applies the RFC 2083 forward filter
    so the decoder's reconstruction paths (Sub/Up/Average/Paeth incl.
    the wavefront) can be exercised by synthesized fixtures; default is
    filter 0 everywhere."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color_type, channels = 0, 1
        arr = arr[:, :, None]
    elif arr.shape[2] == 3:
        color_type, channels = 2, 3
    elif arr.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError("unsupported channel count")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    if row_filters is None:
        fts = [0] * h
    elif isinstance(row_filters, int):
        fts = [row_filters] * h
    else:
        fts = [int(x) for x in row_filters]
    bpp = channels
    stride = w * bpp
    flat = arr.reshape(h, stride).astype(np.int16)
    zero = np.zeros(stride, dtype=np.int16)
    pieces = []
    for y in range(h):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else zero
        left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]]) if stride > bpp else zero[:stride]
        ul = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]]) if stride > bpp else zero[:stride]
        f = fts[y]
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - left
        elif f == 2:
            out = cur - prev
        elif f == 3:
            out = cur - ((left + prev) >> 1)
        elif f == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            out = cur - pred
        else:
            raise ValueError(f"bad filter {f}")
        pieces.append(bytes([f]) + (out & 0xFF).astype(np.uint8).tobytes())
    raw = b"".join(pieces)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _reconstruct_filters(
    lines: np.ndarray, ftypes: np.ndarray, width: int, bpp: int
) -> np.ndarray:
    """Vectorized PNG filter reconstruction (RFC 2083 §6.2-6.6).

    Rows are processed as maximal same-kind runs:

    * None (0) and Up (2) rows are a column-wise uint8 cumulative sum
      (wraparound is the mod-256 the spec wants) seeded by the previous
      decoded row;
    * Sub (1) rows depend only on their own bytes — a pixel-axis uint8
      cumsum per row;
    * Average (3) / Paeth (4) runs use an ANTI-DIAGONAL WAVEFRONT: cell
      (y, x) needs left (y, x-1), up (y-1, x) and up-left (y-1, x-1),
      all on earlier anti-diagonals, so each diagonal is computed in one
      vector step — R+W-1 numpy steps for an R×W run instead of R·W·bpp
      per-byte Python with per-pixel array allocations."""
    height, stride = lines.shape
    wp = width  # pixels per row; lanes = bpp bytes per pixel
    out = np.zeros((height, stride), dtype=np.uint8)

    # rows needing the wavefront (Average/Paeth), with short 0/1/2 gaps
    # between them merged in: a 1-row wavefront still pays W diagonal
    # steps, so fragmenting into tiny segments is the worst case — one
    # merged segment costs (R + W - 1) steps total
    wave = ftypes >= 3
    widx = np.flatnonzero(wave)
    for a, b in zip(widx[:-1], widx[1:]):
        if 0 < b - a - 1 < 16:
            wave[a:b] = True

    y = 0
    while y < height:
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if not wave[y]:
            f = int(ftypes[y])
            if f in (0, 2):
                y1 = y
                while y1 + 1 < height and ftypes[y1 + 1] == 2 and not wave[y1 + 1]:
                    y1 += 1
                block = lines[y : y1 + 1].copy()
                if f == 2:
                    block[0] += prev  # uint8 wraparound
                # Up rows accumulate down the columns (mod 256)
                np.cumsum(block, axis=0, dtype=np.uint8, out=block)
                out[y : y1 + 1] = block
                y = y1 + 1
            else:  # Sub: pixel-axis prefix sum, rows independent
                y1 = y
                while y1 + 1 < height and ftypes[y1 + 1] == 1 and not wave[y1 + 1]:
                    y1 += 1
                block = lines[y : y1 + 1].reshape(y1 + 1 - y, wp, bpp)
                out[y : y1 + 1] = np.cumsum(block, axis=1, dtype=np.uint8).reshape(
                    y1 + 1 - y, stride
                )
                y = y1 + 1
        else:  # anti-diagonal wavefront over the merged segment
            y1 = y
            while y1 + 1 < height and wave[y1 + 1]:
                y1 += 1
            r = y1 + 1 - y
            cur = lines[y : y1 + 1].reshape(r, wp, bpp).astype(np.int16)
            fk = ftypes[y : y1 + 1]
            # padded buffer: row 0 = previous decoded row, col 0 = zeros
            buf = np.zeros((r + 1, wp + 1, bpp), dtype=np.int16)
            buf[0, 1:, :] = prev.reshape(wp, bpp)
            for k in range(r + wp - 1):
                ys = np.arange(max(0, k - wp + 1), min(r, k + 1))
                xs = k - ys
                left = buf[ys + 1, xs]
                up = buf[ys, xs + 1]
                ul = buf[ys, xs]
                p = left + up - ul
                pa = np.abs(p - left)
                pb = np.abs(p - up)
                pc = np.abs(p - ul)
                pae = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
                fks = fk[ys][:, None]
                pred = np.where(
                    fks == 0,
                    0,
                    np.where(
                        fks == 1,
                        left,
                        np.where(
                            fks == 2, up, np.where(fks == 3, (left + up) >> 1, pae)
                        ),
                    ),
                )
                buf[ys + 1, xs + 1] = (cur[ys, xs] + pred) & 0xFF
            out[y : y1 + 1] = buf[1:, 1:, :].astype(np.uint8).reshape(r, stride)
            y = y1 + 1
    return out


def decode_png(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """PNG bytes → (width, height, channels, uint8 H×W×C array)."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = None
    idat = []
    palette = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if bit_depth != 8 or interlace != 0:
                raise ValueError("unsupported PNG (need 8-bit non-interlaced)")
        elif tag == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("truncated PNG (no IHDR)")
    if color_type not in (0, 2, 3, 4, 6):
        raise ValueError(f"unsupported PNG color type {color_type}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as ex:
        raise ValueError(f"corrupt PNG IDAT: {ex}") from ex
    stride = width * channels
    bpp = channels  # bytes per pixel at depth 8
    if len(raw) < height * (1 + stride):
        raise ValueError("truncated PNG pixel data")
    # split scanlines into (ftypes, filtered-line matrix) once
    rawa = np.frombuffer(raw, dtype=np.uint8, count=height * (1 + stride)).reshape(
        height, 1 + stride
    )
    ftypes = rawa[:, 0].astype(np.int64)
    if (ftypes > 4).any():
        raise ValueError(f"bad filter {int(ftypes[ftypes > 4][0])}")
    lines = rawa[:, 1:]
    out = _reconstruct_filters(lines, ftypes, width, bpp)
    img = out.reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE")
        img = palette[img[:, :, 0]]
        channels = 3
    return width, height, channels, img


def image_features(img: np.ndarray) -> list[float]:
    """Per-channel mean + std (the resize/feature-extract stage's shape)."""
    f = img.reshape(-1, img.shape[2]).astype(np.float64)
    return [float(x) for x in f.mean(axis=0)] + [float(x) for x in f.std(axis=0)]


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 mono samples → WAV bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """WAV bytes → (sample_rate, n_channels, int16 samples array)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width != 2:
        raise ValueError("only 16-bit PCM supported")
    samples = np.frombuffer(frames, dtype="<i2")
    return rate, nch, samples


def audio_features(rate: int, samples: np.ndarray) -> list[float]:
    """duration / RMS / peak — the audio feature-extract stage."""
    if len(samples) == 0:
        return [0.0, 0.0, 0.0]
    x = samples.astype(np.float64)
    return [
        len(samples) / float(rate),
        float(np.sqrt((x**2).mean())),
        float(np.abs(x).max()),
    ]


def sniff_media(data: bytes) -> str:
    """Container detection by magic bytes."""
    if data[:8] == _PNG_MAGIC:
        return "image/png"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    if data[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return "video/mp4"
    if data[:4] == b"\x1a\x45\xdf\xa3":
        return "video/webm"
    return "application/octet-stream"
