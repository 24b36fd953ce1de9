"""Synthetic image+caption table (the BASELINE.json input_hint shape) and
vectorized decode kernels.

Schema: ``image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long`` — geolocated by the phash rule of FIXTURES.md §1
(lon from the low 32 bits, lat from the next 31, matching the slippy-valid
range of reference tile.py:22-33).

Codecs: PNG and BMP are implemented here in pure python+numpy+zlib; JPEG is
the from-scratch baseline codec in sources/jpeg.py (Pillow substitutes when
present).  The decode invariant — exact for lossless, PSNR >= 40 dB for
lossy — is verifiable without external imaging libraries, covering all
three input_hint formats.

Generation is *distributed*: ``synth_images`` builds rows with mapInPandas
over ``spark.range`` — no driver-side materialization, so the same code
synthesizes 10^4 rows for tests or 10^9+ rows on a cluster.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

IMAGE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("caption", StringType()),
    StructField("phash", LongType()),
])

_LON_MULT = 2654435761
_LAT_MULT = 2246822519

_WORDS = ("alpine", "basalt", "cairn", "delta", "esker", "fjord", "glacier",
          "horst", "isthmus", "joekull", "karst", "lahar", "moraine", "nunatak")


# ---------------------------------------------------------------------------
# pure-python codecs
# ---------------------------------------------------------------------------

def encode_png(arr: np.ndarray) -> bytes:
    """Minimal RGB8/gray8 PNG encoder (filter 0, one IDAT)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        h, w = arr.shape
        color_type, row_bytes = 0, arr.reshape(h, w)
    else:
        h, w, c = arr.shape
        assert c == 3, "encode_png supports gray or RGB"
        color_type, row_bytes = 2, arr.reshape(h, w * 3)
    filtered = np.zeros((h, row_bytes.shape[1] + 1), dtype=np.uint8)
    filtered[:, 1:] = row_bytes  # filter byte 0 per row, one memcpy
    raw = filtered.tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    """Decoder for the encoder above plus ALL five PNG filter types
    (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth — RFC 2083 §6; real-world
    encoders emit Paeth/Average heavily, round 4)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat, w = 8, b"", 0
    h = bit_depth = color_type = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _c, _f, interlace = \
                struct.unpack(">IIBBBBB", body[:13])
            if (bit_depth, interlace) != (8, 0) or color_type not in (0, 2):
                # palette / alpha / 16-bit / sub-8-bit / Adam7: the full
                # from-scratch codec (sources/png.py) handles every legal
                # IHDR shape; this path stays the filter-0 bench fast path
                from karta_spark.sources.png import decode_png_full
                return decode_png_full(data)
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    nch = 3 if color_type == 2 else 1
    raw = zlib.decompress(idat)
    stride = w * nch
    buf = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = buf[:, 0]
    if not filters.any():
        # the common case (our encoder emits filter 0 only): one reshape,
        # no per-row python — this is the decode-bench hot path
        out = buf[:, 1:]
    else:
        out = np.zeros((h, stride), dtype=np.uint8)
        for i in range(h):
            ftype = int(filters[i])
            row = buf[i, 1:].astype(np.int32)
            prev = out[i - 1].astype(np.int32) if i else np.zeros(stride, np.int32)
            if ftype == 0:
                pass
            elif ftype == 1:    # Sub: left neighbor (sequential in x)
                for j in range(nch, stride):
                    row[j] = (row[j] + row[j - nch]) & 0xFF
            elif ftype == 2:    # Up: vectorized over the row
                row = (row + prev) & 0xFF
            elif ftype == 3:    # Average: floor((left + up)/2)
                for j in range(stride):
                    left = row[j - nch] if j >= nch else 0
                    row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
            elif ftype == 4:    # Paeth predictor (RFC 2083 §6.6)
                for j in range(stride):
                    a = int(row[j - nch]) if j >= nch else 0
                    b = int(prev[j])
                    c = int(out[i - 1, j - nch]) if (i and j >= nch) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[j] = (row[j] + pred) & 0xFF
            else:
                raise NotImplementedError(f"PNG filter {ftype} not supported")
            out[i] = row.astype(np.uint8)
    return out.reshape(h, w) if nch == 1 else out.reshape(h, w, 3)


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP (bottom-up BGR)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    assert data[:2] == b"BM", "not a BMP"
    (offset,) = struct.unpack("<I", data[10:14])
    w, h = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    assert bpp == 24
    row_size = (w * 3 + 3) & ~3
    ah = abs(h)
    rows = np.frombuffer(data, dtype=np.uint8,
                         count=ah * row_size, offset=offset).reshape(ah, row_size)
    px = rows[:, :w * 3].reshape(ah, w, 3)[:, :, ::-1]  # BGR -> RGB
    return px[::-1] if h > 0 else px


JPEG_QUALITY = 98  # noise content at q98 decodes ~43 dB (>= 40 dB invariant)


def encode_jpeg(arr: np.ndarray, quality: int = JPEG_QUALITY) -> bytes:
    """Baseline JFIF encode (pure numpy codec in sources/jpeg.py; Pillow is
    used instead when available — same baseline process)."""
    if _HAS_PIL:  # pragma: no cover - container has no Pillow
        import io
        buf = io.BytesIO()
        Image.fromarray(arr).save(buf, format="JPEG", quality=quality)
        return buf.getvalue()
    from karta_spark.sources.jpeg import encode_jpeg_baseline
    return encode_jpeg_baseline(arr, quality)


def decode_jpeg(data: bytes) -> np.ndarray:
    if _HAS_PIL:  # pragma: no cover
        import io
        return np.asarray(Image.open(io.BytesIO(data)))
    from karta_spark.sources.jpeg import decode_jpeg_baseline
    return decode_jpeg_baseline(data)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "jpeg":
        return decode_jpeg(data)
    if fmt == "gif":
        from karta_spark.sources.gif import gif_frames
        return gif_frames(data)[0][0]  # first composited frame, RGB
    if fmt == "webp":
        from karta_spark.sources.webp import decode_webp
        return decode_webp(data)  # RGBA
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


# ---------------------------------------------------------------------------
# deterministic row generation
# ---------------------------------------------------------------------------

FORMATS = ("png", "bmp", "jpeg")  # jpeg via the pure-numpy baseline codec


def phash_for_index(i: np.ndarray) -> np.ndarray:
    """Same key->phash arithmetic as cells.phash_from_key (int64-exact)."""
    i = np.asarray(i, dtype=np.int64)
    lo = (i * _LON_MULT) % (1 << 32)
    hi = (i * _LAT_MULT) % (1 << 31)
    return hi * (1 << 32) + lo


def pixels_for_phash(phash: int, w: int = 16, h: int = 16) -> np.ndarray:
    """Deterministic RGB pixels seeded by phash (verifiable on decode).

    The generator is a SQL-expressible integer hash (32-bit fold, two
    multiply + xor-shift rounds; every product < 2^63 so BIGINT-exact in
    any engine) rather than an opaque RNG stream: DuckDB regenerates the
    exact bytes from (index -> phash -> pixel) alone, which gives the full
    decode -> feature -> LSH chain a value oracle (q36)."""
    n = h * w * 3
    idx = np.arange(n, dtype=np.uint64)
    M32 = np.uint64(0xFFFFFFFF)
    p = np.uint64(phash)
    h0 = ((p & M32) + (p >> np.uint64(32))) & M32
    h1 = (h0 + idx * np.uint64(1000003)) & M32
    h2 = (h1 * np.uint64(1597334677)) & M32
    h3 = h2 ^ (h2 >> np.uint64(16))
    h4 = (h3 * np.uint64(1103515245)) & M32
    h5 = h4 ^ (h4 >> np.uint64(16))
    return (h5 & np.uint64(255)).astype(np.uint8).reshape(h, w, 3)


def pixel_hash_sql(phash_expr: str, idx_expr: str) -> str:
    """DuckDB twin of the pixels_for_phash byte at flat index *idx*
    (idx = y*w*3 + x*3 + c). BIGINT-safe: all products < 2^63."""
    h0 = f"(({phash_expr}) % 4294967296 + ({phash_expr}) // 4294967296) % 4294967296"
    h1 = f"(({h0}) + ({idx_expr}) * 1000003) % 4294967296"
    h2 = f"(({h1}) * 1597334677) % 4294967296"
    h3 = f"xor(({h2}), ({h2}) // 65536)"
    h4 = f"(({h3}) * 1103515245) % 4294967296"
    h5 = f"xor(({h4}), ({h4}) // 65536)"
    return f"(({h5}) % 256)"


def pixels_for_phash_batch(phash: np.ndarray, w: int = 16,
                           h: int = 16) -> np.ndarray:
    """pixels_for_phash for a VECTOR of phashes -> (n, h, w, 3) uint8 —
    same uint32 hash algebra broadcast over a leading axis, so each slice
    is bit-identical to the scalar function (pinned by test)."""
    n = h * w * 3
    idx = np.arange(n, dtype=np.uint64)[None, :]
    M32 = np.uint64(0xFFFFFFFF)
    p = np.asarray(phash, dtype=np.uint64)[:, None]
    h0 = ((p & M32) + (p >> np.uint64(32))) & M32
    h1 = (h0 + idx * np.uint64(1000003)) & M32
    h2 = (h1 * np.uint64(1597334677)) & M32
    h3 = h2 ^ (h2 >> np.uint64(16))
    h4 = (h3 * np.uint64(1103515245)) & M32
    h5 = h4 ^ (h4 >> np.uint64(16))
    return (h5 & np.uint64(255)).astype(np.uint8).reshape(-1, h, w, 3)


def caption_for_index(i: int) -> str:
    return f"caption {i} {_WORDS[i % len(_WORDS)]} {_WORDS[(i * 7 + 3) % len(_WORDS)]}"


def make_row(i: int, w: int = 16, h: int = 16, skew_cell: tuple | None = None,
             skew_frac: float = 0.0):
    ph = int(phash_for_index(np.array([i]))[0])
    if skew_cell is not None and skew_frac > 0 and (i % max(1, int(1 / skew_frac))) == 0:
        # pile this row into a 1°x1° cell to exercise salting (FIXTURES §1)
        lon0, lat0 = skew_cell
        frac_lon = (lon0 + 180.0 + (i % 997) / 997.0) / 360.0
        frac_lat = (lat0 + 85.0 + (i % 991) / 991.0) / 170.0
        lo = int(frac_lon * (1 << 32)) & 0xFFFFFFFF
        hi = int(frac_lat * (1 << 31)) & 0x7FFFFFFF
        ph = hi * (1 << 32) + lo
    fmt = FORMATS[i % len(FORMATS)]
    pix = pixels_for_phash(ph, w, h)
    data = encode_png(pix) if fmt == "png" else (
        encode_bmp(pix) if fmt == "bmp" else encode_jpeg(pix))
    return (f"img{i:012d}", bytearray(data), w, h, fmt, caption_for_index(i), ph)


def synth_images(spark: SparkSession, n: int, w: int = 16, h: int = 16,
                 skew_cell: tuple | None = None, skew_frac: float = 0.0,
                 partitions: int | None = None) -> DataFrame:
    """Distributed deterministic image table: mapInPandas over spark.range."""
    base = spark.range(0, n, 1, partitions or max(4, n // 50_000 + 1))

    def gen(batches):
        for pdf in batches:
            rows = [make_row(int(i), w, h, skew_cell, skew_frac) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return base.mapInPandas(gen, IMAGE_SCHEMA)


def with_lonlat(images: DataFrame) -> DataFrame:
    """Attach (x=lon, y=lat) columns from phash — pure column exprs."""
    from karta_spark.functions import cells
    return images.withColumn("x", cells.lon_from_phash(F.col("phash"))) \
                 .withColumn("y", cells.lat_from_phash(F.col("phash")))


# ---------------------------------------------------------------------------
# photo-like JPEG corpus (4:2:0 / 4:2:2 / restart-interval coverage)
# ---------------------------------------------------------------------------

#: (subsampling, restart_interval, progressive) cycled by row index —
#: covers the real-world-dominant 4:2:0, restart framing, and
#: progressive SOF2 in both modes (spectral selection 'ss' and
#: successive approximation 'sa') — round 4
JPEG_MODES = (("444", 0, None), ("422", 0, None), ("420", 0, None),
              ("444", 2, None), ("422", 2, None), ("420", 2, None),
              ("444", 0, "ss"), ("420", 0, "sa"), ("422", 0, "sa"))

PHOTO_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("mode", StringType()),
])


def photo_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic photo-LIKE RGB content: detailed luma, smooth chroma
    — the statistical shape chroma subsampling is designed for (hash-noise
    chroma is unrecoverable under 2x2 averaging, so the pixels_for_phash
    corpus cannot exercise 4:2:0 at the PSNR>=40 invariant).  Pure
    closed-form trig of (index, x, y): regenerable anywhere, no RNG."""
    a = float((i * 37) % 101)
    b = float((i * 61) % 97)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    luma = 128.0 + 70.0 * np.sin((xx + a) / 9.0) * np.cos((yy + b) / 11.0)
    cb = 15.0 * np.sin((xx + a) / 53.0)
    cr = 12.0 * np.cos((yy + b) / 47.0)
    r = luma + 1.402 * cr
    g = luma - 0.344136 * cb - 0.714136 * cr
    bl = luma + 1.772 * cb
    return np.clip(np.stack([r, g, bl], axis=2), 0, 255).astype(np.uint8)


def synth_photo_jpegs(spark: SparkSession, n: int, w: int = 52, h: int = 36,
                      quality: int = 95,
                      partitions: int | None = None) -> DataFrame:
    """Distributed deterministic photo-JPEG table cycling through
    JPEG_MODES (i % 9): every chroma-subsampling / restart-interval /
    progressive shape the decoder supports, at a size (52x36 default) that is not
    an MCU multiple in any mode — edge-padding and multi-RST streams are
    exercised on every row."""
    from karta_spark.sources.jpeg import (encode_jpeg_baseline,
                                          encode_jpeg_progressive)

    base = spark.range(0, n, 1, partitions or max(4, n // 50_000 + 1))

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                sub, ri, prog = JPEG_MODES[i % len(JPEG_MODES)]
                pix = photo_pixels(i, w, h)
                if prog is None:
                    data = encode_jpeg_baseline(
                        pix, quality, subsampling=sub, restart_interval=ri)
                    mode = f"{sub}_r{ri}"
                else:
                    data = encode_jpeg_progressive(
                        pix, quality, subsampling=sub,
                        successive=(prog == "sa"))
                    mode = f"{sub}_prog_{prog}"
                rows.append((f"photo{i:09d}", bytearray(data), w, h, mode))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in PHOTO_SCHEMA.fields])

    return base.mapInPandas(gen, PHOTO_SCHEMA)


def verify_photo_jpegs(photos: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """Per-row decode + PSNR>=min_psnr vs the regenerated reference —
    the BASELINE lossy invariant over the subsampled/restart corpus.
    Returns (image_id, mode, psnr_vs_ref, verified)."""
    from karta_spark.sources.jpeg import decode_jpeg_baseline

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("mode", StringType()),
        StructField("psnr_vs_ref", DoubleType()),
        StructField("verified", BooleanType()),
    ])

    def run(batches):
        from karta_spark.sources.jpeg import decode_jpeg_batch
        for pdf in batches:
            out = []
            raws = [bytes(r) for r in pdf["bytes"].to_numpy()]
            # batch kernel handles the plain-baseline modes; restart/
            # progressive rows fall back to the scalar decoder inside
            pixes = decode_jpeg_batch(raws)
            for iid, pix, w, h, mode in zip(
                    pdf["image_id"].to_numpy(), pixes,
                    pdf["w"].to_numpy(), pdf["h"].to_numpy(),
                    pdf["mode"].to_numpy()):
                i = int(iid[5:])
                ref = photo_pixels(i, int(w), int(h))
                p = psnr(pix, ref)
                out.append((iid, mode, p, bool(p >= min_psnr)))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return photos.mapInPandas(run, schema)


DECODE_STATS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("phash", LongType()),
    StructField("pix_mean", DoubleType()),
    StructField("pix_std", DoubleType()),
    StructField("psnr_vs_ref", DoubleType()),
])


def expected_caption_expr() -> F.Column:
    """The reference caption regenerated JVM-side from the image index
    (image_id = 'img%012d'): mirrors caption_for_index with an array
    literal + element_at — the caption byte-equality invariant costs zero
    Python.  One SQL expression, so building it takes one py4j call."""
    i = "CAST(substring(image_id, 4, 12) AS BIGINT)"
    words = "array(%s)" % ", ".join(f"'{w}'" for w in _WORDS)
    n = len(_WORDS)
    return F.expr(
        f"concat('caption ', CAST({i} AS STRING), ' ',"
        f" element_at({words}, CAST((({i} % {n}) + 1) AS INT)), ' ',"
        f" element_at({words}, CAST((((({i} * 7) + 3) % {n}) + 1) AS INT)))")


def verify_images(images: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """Per-image verification of the BASELINE invariants: decoded pixels
    PSNR >= min_psnr vs the phash-regenerated reference (Arrow decode
    kernel) and caption byte-equality (pure Catalyst string path).
    Returns decode stats + (psnr_ok, caption_ok, verified).

    Single pass: the caption flag is computed as a Catalyst column BEFORE
    the decode kernel and carried through it — a join-back against the
    (possibly expensive, lazy) source would re-run its lineage."""
    cap_ok = F.col("caption") == expected_caption_expr()
    stats = decode_stats(images.withColumn("caption_ok", cap_ok),
                         passthrough=("caption_ok",))
    return (
        stats
        .withColumn("psnr_ok", F.col("psnr_vs_ref") >= min_psnr)
        .withColumn("verified", F.col("psnr_ok") & F.col("caption_ok"))
    )


def decode_stats(images: DataFrame, passthrough: tuple = ()) -> DataFrame:
    """Arrow-batched decode + verification: per image, pixel stats and PSNR
    against the regenerated reference pixels (inf for lossless).

    ``passthrough`` names input columns copied to the output unchanged —
    cheaper than joining the stats back to the (lazy) source."""
    schema = StructType(list(DECODE_STATS_SCHEMA.fields)
                        + [images.schema[c] for c in passthrough])

    def run(batches):
        for pdf in batches:
            extras = [pdf[c].to_numpy() for c in passthrough]
            ids = pdf["image_id"].to_numpy()
            raws = pdf["bytes"].to_numpy()
            ws = pdf["w"].to_numpy()
            hs = pdf["h"].to_numpy()
            fmts = pdf["fmt"].to_numpy()
            phs = pdf["phash"].to_numpy()
            n = len(ids)
            # jpegs through the vectorized multi-stream entropy kernel
            # (bit-identical to the scalar decoder; guide §4.2 batching) —
            # the scalar per-symbol loop is ~3x slower per image
            decoded: list = [None] * n
            jrows = np.flatnonzero(fmts == "jpeg")
            if jrows.size >= 8 and not _HAS_PIL:
                from karta_spark.sources.jpeg import decode_jpeg_batch
                for r, pix in zip(jrows,
                                  decode_jpeg_batch([bytes(raws[r])
                                                     for r in jrows])):
                    decoded[int(r)] = pix
            for i in range(n):
                pix = decoded[i]
                if pix is None:
                    pix = decode_image(bytes(raws[i]), fmts[i])
                if pix.ndim == 2:
                    pix = np.repeat(pix[:, :, None], 3, axis=2)
                decoded[i] = pix
            # batched stats per uniform-shape group: one axis reduction
            # over a contiguous (g, h*w*3) float64 stack computes the
            # identical pairwise sums as the per-image np.mean/std/psnr
            # (bit-equality pinned by test); the per-row loop cost
            # ~45 us/row of numpy dispatch (r8)
            means = np.empty(n)
            stds = np.empty(n)
            psnrs = np.empty(n)
            groups: dict = {}
            for i, px in enumerate(decoded):
                groups.setdefault((px.shape, int(ws[i]), int(hs[i])),
                                  []).append(i)
            for (shape, w, h), rows_l in groups.items():
                rows_ = np.asarray(rows_l)
                if rows_.size >= 8:
                    st = np.stack([decoded[i] for i in rows_l]
                                  ).astype(np.float64)
                    flat = st.reshape(rows_.size, -1)
                    means[rows_] = flat.mean(axis=1)
                    stds[rows_] = flat.std(axis=1)
                    refs = pixels_for_phash_batch(phs[rows_], w, h)
                    d = (st - refs.astype(np.float64)).reshape(rows_.size, -1)
                    mse = (d * d).mean(axis=1)
                    p = np.empty(rows_.size)
                    zero = mse == 0.0
                    p[zero] = np.inf
                    p[~zero] = 10.0 * np.log10(255.0 ** 2 / mse[~zero])
                    psnrs[rows_] = p
                else:
                    for i in rows_l:
                        ref = pixels_for_phash(int(phs[i]), w, h)
                        means[i] = float(decoded[i].mean())
                        stds[i] = float(decoded[i].std())
                        psnrs[i] = psnr(decoded[i], ref)
            out = []
            for i in range(n):
                out.append((ids[i], int(phs[i]), float(means[i]),
                            float(stds[i]), float(psnrs[i]),
                            *[e[i] for e in extras]))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return images.mapInPandas(run, schema)
