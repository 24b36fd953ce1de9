"""Audio/video container codecs — pure python + numpy.

Closes the last two stubs in the multimodal surface without external
codec libraries:

- **WAV (RIFF PCM / IEEE-float)**: encode/decode of 8/16/32-bit integer
  PCM and 32-bit float, mono or multi-channel — the standard uncompressed
  audio interchange format.
- **MJPEG-in-AVI**: a RIFF AVI writer/reader whose video stream is
  Motion-JPEG — each frame is a baseline JPEG (sources/jpeg.py), so frame
  sampling decodes real lossy video end-to-end with zero dependencies.

Compressed audio (mp3/ogg) and inter-frame video codecs (h264 etc.)
remain out of scope — those genuinely need external decoders.
"""

from __future__ import annotations

import struct

import numpy as np

from karta_spark.sources.jpeg import decode_jpeg_baseline, encode_jpeg_baseline


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """PCM WAV: samples float in [-1, 1] (any shape (n,) or (n, ch)) or
    integer arrays passed through. bits: 8 (unsigned), 16/32 (signed int)
    or 'float32'."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == "float32" or bits == 32.5:
        fmt_code, width = 3, 4
        data = s.astype("<f4").tobytes()
    else:
        fmt_code, width = 1, bits // 8
        if np.issubdtype(s.dtype, np.floating):
            full = float(2 ** (bits - 1) - 1)
            q = np.clip(np.round(s * full), -(2 ** (bits - 1)), 2 ** (bits - 1) - 1)
        else:
            q = s
        if bits == 8:
            data = (q.astype(np.int64) + 128).astype("<u1").tobytes()
        elif bits == 16:
            data = q.astype("<i2").tobytes()
        elif bits == 32:
            data = q.astype("<i4").tobytes()
        else:
            raise ValueError("bits must be 8, 16, 32 or 'float32'")
    byte_rate = sample_rate * ch * width
    block_align = ch * width
    fmt = struct.pack("<HHIIHH", fmt_code, ch, sample_rate, byte_rate,
                      block_align, width * 8)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes):
    """-> (samples float64 (n, ch) scaled to [-1, 1], sample_rate)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt_code = ch = sr = bits = None
    samples = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, ch, sr, _, block_align, bits = \
                struct.unpack("<HHIIHH", body[:16])
            if fmt_code == 0x11 and len(body) >= 20:
                (spb,) = struct.unpack("<H", body[18:20])
            if fmt_code == 0xFFFE and len(body) >= 40:
                # WAVE_FORMAT_EXTENSIBLE: the real format is the first
                # two bytes of the SubFormat GUID (1 = PCM, 3 = float);
                # bits stays wBitsPerSample (the container size)
                (fmt_code,) = struct.unpack("<H", body[24:26])
        elif tag == b"data":
            if fmt_code is None:
                raise ValueError("WAV data chunk before fmt chunk")
            if fmt_code == 7 and bits == 8:   # G.711 mu-law
                arr = mulaw_decode_bytes(
                    np.frombuffer(body, dtype=np.uint8)) \
                    .astype(np.float64) / 32767.0
            elif fmt_code == 6 and bits == 8:  # G.711 A-law
                arr = alaw_decode_bytes(
                    np.frombuffer(body, dtype=np.uint8)) \
                    .astype(np.float64) / 32767.0
            elif fmt_code == 0x11 and bits == 4 and ch == 1:  # IMA ADPCM
                arr = _ima_adpcm_decode(body, block_align, spb) \
                    .astype(np.float64) / 32767.0
            elif fmt_code == 3 and bits == 32:
                arr = np.frombuffer(body, dtype="<f4").astype(np.float64)
            elif fmt_code == 1 and bits == 8:
                arr = (np.frombuffer(body, dtype="<u1").astype(np.float64) - 128.0) / 127.0
            elif fmt_code == 1 and bits == 16:
                arr = np.frombuffer(body, dtype="<i2").astype(np.float64) / 32767.0
            elif fmt_code == 1 and bits == 32:
                arr = np.frombuffer(body, dtype="<i4").astype(np.float64) / 2147483647.0
            else:
                raise NotImplementedError(
                    f"WAV format code {fmt_code} / {bits}-bit not supported "
                    "(PCM 8/16/32, float32, G.711 mu/A-law, IMA ADPCM are)")
            samples = arr.reshape(-1, ch)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if samples is None:
        raise ValueError("WAV stream has no data chunk")
    return samples, int(sr)


# ---------------------------------------------------------------------------
# MJPEG-in-AVI
# ---------------------------------------------------------------------------

def _chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def encode_mjpeg_avi(frames, fps: int = 30, quality: int = 95) -> bytes:
    """Encode uint8 RGB/gray frames (equal shapes) as a Motion-JPEG AVI."""
    frames = [np.asarray(f) for f in frames]
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg_baseline(f, quality) for f in frames]
    n = len(jpegs)
    us_per_frame = int(1_000_000 / fps)
    max_bytes = max(len(j) for j in jpegs)

    avih = struct.pack("<IIIIIIIIIIIIII", us_per_frame, max_bytes * fps, 0,
                       0x10, n, 0, 1, max_bytes, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
            1, fps, 0, n, max_bytes, 0xFFFFFFFF, 0, 0)
            + struct.pack("<HHHH", 0, 0, w, h))
    # BITMAPINFOHEADER
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    strl = _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strl)

    movi_body = b"".join(_chunk(b"00dc", j) for j in jpegs)
    movi = _list(b"movi", movi_body)

    # idx1 index (offsets relative to the start of 'movi' kind tag)
    idx = b""
    off = 4
    for j in jpegs:
        size = len(j)
        idx += b"00dc" + struct.pack("<III", 0x10, off, size)
        off += 8 + size + (size & 1)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def iter_mjpeg_frames(data: bytes):
    """Yield decoded (frame_idx, np.ndarray) from an MJPEG AVI stream."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    # find the movi LIST
    pos = 12
    movi_start = movi_end = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if tag == b"LIST" and data[pos + 8:pos + 12] == b"movi":
            movi_start = pos + 12
            movi_end = pos + 8 + size
            break
        pos += 8 + size + (size & 1)
    if movi_start is None:
        raise ValueError("AVI stream has no movi list")
    p = movi_start
    idx = 0
    while p + 8 <= movi_end:
        tag = data[p:p + 4]
        (size,) = struct.unpack("<I", data[p + 4:p + 8])
        if tag.endswith(b"dc") or tag.endswith(b"db"):
            payload = data[p + 8:p + 8 + size]
            if payload[:2] == b"\xff\xd8":
                yield idx, decode_jpeg_baseline(payload)
            idx += 1
        p += 8 + size + (size & 1)


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law (WAV format codes 7 / 6) — telephony + web audio.
# Vectorized ports of the classic public-domain g711 reference algebra;
# both laws are exact bijections byte <-> 16-bit-scale linear value (up
# to mu-law's two zero codes), which the q81 oracle exploits.
# ---------------------------------------------------------------------------

def mulaw_decode_bytes(b: np.ndarray) -> np.ndarray:
    """u8 -> int16-scale linear (+-32124)."""
    u = (~np.asarray(b, dtype=np.uint8)).astype(np.int32) & 0xFF
    mant = u & 0x0F
    exp = (u >> 4) & 0x07
    t = ((mant << 3) + 0x84) << exp
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def alaw_decode_bytes(b: np.ndarray) -> np.ndarray:
    a = (np.asarray(b, dtype=np.uint8).astype(np.int32)) ^ 0x55
    mant = a & 0x0F
    seg = (a >> 4) & 0x07
    t = np.where(seg == 0, (mant << 4) + 8,
                 ((mant << 4) + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def encode_g711_wav(law_bytes: np.ndarray, sample_rate: int,
                    law: str = "ulaw", channels: int = 1) -> bytes:
    """Wrap raw G.711 bytes (interleaved if multichannel) in a WAV."""
    code = 7 if law == "ulaw" else 6
    data = np.asarray(law_bytes, dtype=np.uint8).tobytes()
    fmt = struct.pack("<HHIIHHH", code, channels, sample_rate,
                      sample_rate * channels, channels, 8, 0)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# IMA ADPCM (WAV format 0x11): 4-bit differential blocks
# ---------------------------------------------------------------------------

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step(pred: int, index: int, nib: int):
    step = int(_IMA_STEPS[index])
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nib & 7])))
    return pred, index


def _ima_adpcm_decode(body: bytes, block_align: int, spb: int) -> np.ndarray:
    out = []
    for start in range(0, len(body), block_align):
        blk = body[start:start + block_align]
        if len(blk) < 4:
            break
        pred, index, _ = struct.unpack("<hBB", blk[:4])
        index = max(0, min(88, index))
        out.append(pred)
        count = 1
        for byte in blk[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                if count >= spb:
                    break
                pred, index = _ima_step(pred, index, nib)
                out.append(pred)
                count += 1
    return np.array(out, dtype=np.int16)


def energy_segments(samples: np.ndarray, sample_rate: int,
                    frame_ms: int = 20, threshold: int = 1_000_000,
                    min_frames: int = 2) -> list[tuple[int, int]]:
    """VAD-style voiced-segment detection on integer PCM: per-frame
    energy (sum of squared int samples — int64-exact, so the segment
    boundaries are bit-reproducible in any engine) thresholded, then
    maximal runs of >= min_frames voiced frames become segments
    [(start_sample, end_sample_exclusive)].  The audio-pipeline step
    that trims silence and chunks long recordings before ASR-style
    training."""
    s = np.asarray(samples)
    if s.ndim == 2:
        s = s[:, 0]
    s = s.astype(np.int64)
    n = sample_rate * frame_ms // 1000
    if n <= 0:
        raise ValueError("frame too short")
    nf = len(s) // n
    if nf == 0:
        return []
    e = (s[:nf * n].reshape(nf, n) ** 2).sum(axis=1)
    voiced = e > threshold
    segs = []
    start = None
    for i, v in enumerate(voiced):
        if v and start is None:
            start = i
        elif not v and start is not None:
            if i - start >= min_frames:
                segs.append((start * n, i * n))
            start = None
    if start is not None and nf - start >= min_frames:
        segs.append((start * n, nf * n))
    return segs
