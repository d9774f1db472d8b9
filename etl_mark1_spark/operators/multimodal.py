"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

A media item is two columns:
- ``content``: BinaryType payload (or a storage URI for out-of-line blobs)
- ``media_meta``: typed struct (modality, format, width/height,
  sample_rate/channels, duration_ms, n_bytes)

The Spark-side plumbing — schema, partition-preserving mapInPandas, Arrow
batch shapes, UDF signatures — is real and tested. The codec step itself is
STUBBED: this container has no image/audio libraries, so ``decode_*`` either
raises ``NotImplementedError`` (``codec="real"``) or runs a deterministic
fake codec (``codec="fake"``, derives pixel/sample statistics from the bytes
by hashing) that exercises the full distributed path.

At 100 TB: keep payloads out-of-line (parquet stores a URI; executors fetch
from object storage inside mapInPandas), keep batches small
(``spark.sql.execution.arrow.maxRecordsPerBatch``) because rows are MBs, and
partition by (modality, format) so codec-specific stages don't shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("modality", T.StringType(), False),      # image|audio|video
    T.StructField("format", T.StringType(), True),         # png|jpg|wav|mp4...
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("n_bytes", T.LongType(), True),
])

IMAGE_FEATURES = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_pixel", T.DoubleType(), True),
    T.StructField("phash", T.StringType(), True),
])

AUDIO_FEATURES = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
])


def attach_fake_media(df: DataFrame, id_col: str = "doc_id",
                      modality: str = "image") -> DataFrame:
    """Synthesize a deterministic binary payload + metadata per row (for
    tests and fixtures): content = md5-expanded bytes of the id, metadata
    derived from the id. Entirely JVM-side."""
    seed = F.md5(F.col(id_col).cast("string"))
    content = F.to_binary(F.repeat(seed, 8), F.lit("hex"))
    width = (F.abs(F.xxhash64(F.col(id_col))) % 64 + 16).cast("int")
    height = (F.abs(F.xxhash64(F.col(id_col), F.lit(1))) % 64 + 16).cast("int")
    meta = F.struct(
        F.lit(modality).alias("modality"),
        F.lit("fake").alias("format"),
        width.alias("width"),
        height.alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        F.lit(1).cast("int").alias("channels"),
        (F.abs(F.xxhash64(F.col(id_col), F.lit(2))) % 60000).cast("long")
        .alias("duration_ms"),
        F.octet_length(F.repeat(seed, 8)).cast("long").alias("n_bytes"),
    )
    return df.withColumn("content", content).withColumn("media_meta", meta)


def _fake_image_stats(payload: bytes) -> tuple[float, str]:
    """Deterministic stand-in for decode: mean byte value and a hex 'phash'."""
    import hashlib

    mean = sum(payload) / len(payload) if payload else 0.0
    return mean, hashlib.md5(payload).hexdigest()[:16]


def make_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit BMP
    (fixture generator — the real container format, readable by any image
    tool)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = (
        b"BM" + (54 + len(data)).to_bytes(4, "little") + b"\0\0\0\0"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(data).to_bytes(4, "little")
        + b"\0" * 16
    )
    return header + data


def decode_image_bytes(payload: bytes):
    """REAL decode for uncompressed formats: returns (width, height,
    mean_pixel, phash) where phash is a genuine 64-bit average-hash
    (8x8 block-sampled grayscale thresholded at its mean). See
    :func:`decode_image_pixels` for the format dispatch."""
    img = decode_image_pixels(payload)
    return img.shape[1], img.shape[0], round(float(img.mean()), 6), \
        _ahash(img)


def decode_image_pixels(payload: bytes):
    """REAL pixel decode: returns a numpy array, (h, w, 3) RGB or (h, w)
    grayscale.

    BMP (24-bit) and binary PPM/PGM parse with numpy alone; JPEG
    (baseline, extended-sequential, AND progressive SOF2 incl. successive
    approximation), PNG at every legal IHDR combination (depths
    1/2/4/8/16, all filters, gray/RGB/palette/alpha, Adam7 interlace),
    and GIF (LZW, interlace) decode through the vendored pure-Python
    codecs (operators/jpeg.py, operators/png.py, operators/gif.py) — no
    image library needed for the dominant real-world formats. Remaining
    formats (arithmetic-coded jpeg, ...) fall through to PIL when
    installed, else raise NotImplementedError naming the format. 16-bit
    PNG stats
    stay on the native 0-65535 scale; sub-byte grayscale scales to
    0-255 per the spec.
    Alpha/gray+alpha planes are dropped (mean and ahash are
    over color channels, matching PIL's convert("RGB") path)."""
    import numpy as np

    if payload[:2] == b"\xff\xd8":
        from etl_mark1_spark.operators.jpeg import decode_jpeg

        img = decode_jpeg(payload)  # (h, w, 3) RGB or (h, w) grayscale
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        from etl_mark1_spark.operators.png import decode_png

        img = decode_png(payload)
        if img.ndim == 3 and img.shape[2] == 4:    # RGBA -> RGB
            img = img[:, :, :3]
        elif img.ndim == 3 and img.shape[2] == 2:  # gray+alpha -> gray
            img = img[:, :, 0]
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        from etl_mark1_spark.operators.gif import decode_gif

        img = decode_gif(payload)
    elif payload[:2] == b"BM":
        w = int.from_bytes(payload[18:22], "little")
        h = int.from_bytes(payload[22:26], "little")
        bpp = int.from_bytes(payload[28:30], "little")
        off = int.from_bytes(payload[10:14], "little")
        if bpp != 24 or int.from_bytes(payload[30:34], "little") != 0:
            raise NotImplementedError("only uncompressed 24-bit BMP")
        stride = (w * 3 + 3) // 4 * 4
        rows = np.frombuffer(payload, dtype=np.uint8,
                             count=h * stride, offset=off)
        img = rows.reshape(h, stride)[::-1, :w * 3] \
            .reshape(h, w, 3)[:, :, ::-1]  # top-down RGB
    elif payload[:2] in (b"P6", b"P5"):
        import re

        # header ends at the SINGLE whitespace after maxval; the raster may
        # itself start with whitespace-valued bytes, so never split() it
        m = re.match(rb"P[56]\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
        if not m:
            raise NotImplementedError("malformed PPM/PGM header")
        w, h = int(m.group(1)), int(m.group(2))
        ch = 3 if payload[:2] == b"P6" else 1
        img = np.frombuffer(payload, dtype=np.uint8, count=h * w * ch,
                            offset=m.end()).reshape(h, w, ch)
    else:
        try:
            import io

            from PIL import Image  # type: ignore[import-not-found]

            arr = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
            img = arr
        except ImportError:
            raise NotImplementedError(
                f"no built-in decoder for format {payload[:4]!r}; install "
                "PIL/opencv for compressed formats")
    return img


def _ahash(img) -> str:
    """64-bit average hash: grayscale, 8x8 nearest-sample grid, threshold
    at the grid mean, row-major bits as 16 hex chars."""
    import numpy as np

    gray = img.mean(axis=2) if img.ndim == 3 else img
    h, w = gray.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(8) * w // 8).clip(0, w - 1)
    grid = gray[np.ix_(ys, xs)]
    bits = (grid > grid.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return f"{val:016x}"


def _to_gray(img):
    """(h, w[, c]) uint8 -> (h, w) float64 luma (channel mean; a fixed
    Rec.601 weighting would be equally valid — the hash only needs a
    deterministic reduction)."""
    import numpy as np

    arr = np.asarray(img, dtype=np.float64)
    return arr.mean(axis=2) if arr.ndim == 3 else arr


def _dhash(img) -> int:
    """64-bit difference hash: grayscale, bilinear 9x8 resample, each bit
    compares horizontally adjacent cells (col j vs j+1). Robust to
    re-encoding (JPEG quality), uniform brightness shifts, and rescaling —
    the standard cheap perceptual key for image near-dup (row-major bits,
    MSB first). Returns a SIGNED 64-bit int (Spark LongType carrier)."""
    import numpy as np

    grid = _resize_bilinear(_to_gray(img), 9, 8).astype(np.int16)
    bits = (grid[:, 1:] > grid[:, :-1]).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def _phash(img) -> int:
    """64-bit perceptual hash: grayscale, bilinear 32x32 resample,
    orthonormal 2-D DCT-II, keep the top-left 8x8 low-frequency block,
    threshold each coefficient at the median of the 63 AC coefficients
    (row-major bits, MSB first; DC participates with the same threshold).
    More robust than dHash to blur/sharpen at ~4x the arithmetic.
    Returns a SIGNED 64-bit int."""
    import numpy as np

    small = _resize_bilinear(_to_gray(img), 32, 32).astype(np.float64)
    n = 32
    k = np.arange(n)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    basis *= np.sqrt(2.0 / n)
    basis[0] *= np.sqrt(0.5)
    coefs = (basis @ small @ basis.T)[:8, :8].flatten()
    med = np.median(coefs[1:])
    bits = coefs > med
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def _ahash_int(img) -> int:
    val = int(_ahash(img), 16)
    return val - (1 << 64) if val >= (1 << 63) else val


_IMAGE_HASHES = {"dhash": _dhash, "phash": _phash, "ahash": _ahash_int}


def _smooth_image(seed: int, h: int = 48, w: int = 48):
    """Deterministic smooth test image: three random low-frequency cosine
    modes (seeded rng), normalized into [30, 225] and stacked to RGB.
    Smooth content survives JPEG re-encoding and bilinear rescaling with
    tiny pixel error, which is exactly what a perceptual-hash fixture
    needs; different seeds give visually unrelated images."""
    import numpy as np

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    img = np.zeros((h, w))
    for mode in range(6):
        fy, fx = rng.integers(0, 4, size=2)
        if fy == 0 and fx == 0:
            fy = 1 + mode % 3
        img += rng.uniform(0.3, 1.0) * np.cos(
            2 * np.pi * (fy * yy / h + fx * xx / w) + rng.uniform(0, 2 * np.pi))
    img = (img - img.min()) / (np.ptp(img) + 1e-9)
    px = (30 + img * 195).astype(np.uint8)
    return np.stack([px] * 3, axis=-1)


def attach_neardup_image_media(df: DataFrame, id_col: str = "doc_id",
                               group: int = 3) -> DataFrame:
    """Synthesize a PLANTED near-duplicate image corpus executor-side:
    rows sharing ``id // group`` get the same source pixels
    (:func:`_smooth_image`), and ``id % group`` picks the variant —
    0: original BMP, 1: JPEG quality-85 re-encode, 2: 2x bilinear-upscaled
    BMP (variants cycle for ``group > 3``). :func:`image_neardup` must
    reunite each group without merging distinct groups — the ground truth
    IS the id arithmetic, so correctness is checkable at any scale.
    Generated in mapInPandas; nothing flows through the driver."""
    from etl_mark1_spark.operators.jpeg import make_jpeg

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for i in pdf[id_col]:
                i = int(i)
                px = _smooth_image(i // group)
                variant = i % group
                if variant % 3 == 1:
                    blob = make_jpeg(px, quality=85)
                elif variant % 3 == 2:
                    blob = make_bmp(_resize_bilinear(px, 96, 96))
                else:
                    blob = make_bmp(px)
                rows.append((i, blob))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])
            rows = []

    return df.select(id_col).mapInPandas(gen, schema=out_schema)


def with_image_hash(df: DataFrame, content_col: str = "content",
                    out_col: str = "image_hash",
                    method: str = "dhash",
                    normalize_exif: bool = False) -> DataFrame:
    """Add a 64-bit perceptual hash column computed from the binary image
    payload (vendored decoders: BMP/PPM/PGM/JPEG/PNG/GIF). Arrow-batched
    pandas UDF — payloads are hashed where they already live; only the
    8-byte fingerprint ever moves after this projection, so at 100 TB the
    near-dup pass shuffles longs, not images.

    ``normalize_exif=True`` applies the EXIF orientation transform before
    hashing: a camera-rotated re-save of the same photo otherwise hashes
    as a different image (dHash is not rotation-invariant BY DESIGN —
    genuinely rotated content should not merge; EXIF rotation is display
    metadata, not content)."""
    from pyspark.sql.functions import pandas_udf

    try:
        hash_fn = _IMAGE_HASHES[method]
    except KeyError:
        raise ValueError(
            f"unknown image hash method {method!r}; "
            f"choose from {sorted(_IMAGE_HASHES)}")

    if normalize_exif:
        from etl_mark1_spark.operators.jpeg import parse_exif

        def _pixels(p: bytes):
            return apply_exif_orientation(
                decode_image_pixels(p), parse_exif(p).get("orientation"))
    else:
        _pixels = decode_image_pixels

    @pandas_udf("long")
    def _hash(payloads):
        return pd.Series(
            [hash_fn(_pixels(bytes(p))) if p is not None else None
             for p in payloads], dtype="Int64")

    return df.withColumn(out_col, _hash(F.col(content_col)))


def image_neardup(df: DataFrame, id_col: str = "doc_id",
                  content_col: str = "content", method: str = "dhash",
                  max_hamming: int = 4,
                  normalize_exif: bool = False) -> DataFrame:
    """Near-duplicate IMAGE clusters: perceptual hash per payload
    (:func:`with_image_hash` — dHash default), then the generic
    banded-hamming LSH clustering shared with SimHash
    (operators/dedup.py:hamming_neardup — pigeonhole bands, bucket join,
    exact bit_count verify, min-label components). Catches re-encoded
    (BMP vs JPEG quality), rescaled, and brightness-shifted copies
    without any all-pairs comparison. Returns (id_col, cluster_id);
    rows with NULL payloads are dropped (no hash, no cluster)."""
    from etl_mark1_spark.operators.dedup import hamming_neardup

    hashed = (with_image_hash(df.select(id_col, content_col),
                              content_col, "_ih", method,
                              normalize_exif=normalize_exif)
              .filter(F.col("_ih").isNotNull()))
    return hamming_neardup(hashed.select(id_col, "_ih"), "_ih", id_col,
                           max_hamming)


def attach_bmp_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL 24-bit BMP per row (deterministic id-seeded
    gradient) — executors generate their own partitions' payloads inside
    mapInPandas, nothing flows through the driver."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + i % 16, 16 + (i // 2) % 16
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                r = np.broadcast_to(x * 255 // max(w - 1, 1), (h, w))
                g = np.broadcast_to((y * 255 // max(h - 1, 1))[:, None],
                                    (h, w))
                b = np.full((h, w), i % 256, dtype=np.int64)
                px = np.stack([r, g, b], axis=-1).astype(np.uint8)
                rows.append((i, make_bmp(px), w, h))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "width", "height"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("image").alias("modality"), F.lit("bmp").alias("format"),
        F.col("width"), F.col("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("channels"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("width", "height")


def attach_jpeg_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL JPEG per row (id-seeded gradient via the
    vendored encoder) — executor-side in mapInPandas like attach_bmp_media.
    Ids cycle through plain 4:4:4, 4:2:0 subsampled, restart-marker, and
    PROGRESSIVE (SOF2 multi-scan) variants so the full decoder surface
    stays exercised at corpus scale."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_mark1_spark.operators.jpeg import make_jpeg

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + i % 16, 16 + (i // 2) % 16
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                r = np.broadcast_to(x * 255 // max(w - 1, 1), (h, w))
                g = np.broadcast_to((y * 255 // max(h - 1, 1))[:, None],
                                    (h, w))
                b = np.full((h, w), i % 256, dtype=np.int64)
                px = np.stack([r, g, b], axis=-1).astype(np.uint8)
                variant = i % 4
                blob = make_jpeg(
                    px, quality=95,
                    subsample=(variant == 1),
                    restart_interval=2 if variant == 2 else 0,
                    progressive=(variant == 3))
                rows.append((i, blob, w, h))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "width", "height"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("image").alias("modality"), F.lit("jpeg").alias("format"),
        F.col("width"), F.col("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("channels"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("width", "height")


def attach_png_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL PNG per row (id-seeded gradient via the vendored
    encoder) — executor-side in mapInPandas like attach_bmp_media. Ids
    cycle color types (RGB / grayscale / RGBA) and each image cycles all
    five row filters, so the whole unfilter surface stays exercised at
    corpus scale; every third id also splits the stream across multiple
    IDAT chunks."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_mark1_spark.operators.png import make_png

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + i % 16, 16 + (i // 2) % 16
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                r = np.broadcast_to(x * 255 // max(w - 1, 1), (h, w))
                g = np.broadcast_to((y * 255 // max(h - 1, 1))[:, None],
                                    (h, w))
                b = np.full((h, w), i % 256, dtype=np.int64)
                variant = i % 3
                if variant == 0:
                    px = np.stack([r, g, b], axis=-1).astype(np.uint8)
                elif variant == 1:
                    px = ((r + g + b) // 3).astype(np.uint8)
                else:
                    a = np.full((h, w), 255 - i % 128, dtype=np.int64)
                    px = np.stack([r, g, b, a], axis=-1).astype(np.uint8)
                blob = make_png(px, idat_chunk_size=512 if variant == 2
                                else None)
                rows.append((i, blob, w, h))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "width", "height"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("image").alias("modality"), F.lit("png").alias("format"),
        F.col("width"), F.col("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("channels"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("width", "height")


def attach_gif_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL GIF per row (id-seeded palette pattern via the
    vendored encoder, operators/gif.py) — executor-side in mapInPandas
    like attach_png_media. Palette size cycles 4/16/97/256 and every
    third id encodes INTERLACED, so the LZW width growth, dictionary
    resets, and the four-pass row order all stay exercised at corpus
    scale."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_mark1_spark.operators.gif import make_gif

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 12 + i % 21, 12 + (i // 3) % 17
                n_colors = (4, 16, 97, 256)[i % 4]
                yy, xx = np.mgrid[0:h, 0:w]
                idx = ((xx * 7 + yy * 3 + i) % n_colors).astype(np.uint8)
                pal = np.stack([
                    (np.arange(n_colors) * 5 + i) % 256,
                    (np.arange(n_colors) * 11) % 256,
                    (np.arange(n_colors) * 29 + 2 * i) % 256,
                ], axis=1).astype(np.uint8)
                blob = make_gif(idx, pal, interlace=(i % 3 == 0))
                rows.append((i, blob, w, h))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "width", "height"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("image").alias("modality"), F.lit("gif").alias("format"),
        F.col("width"), F.col("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("channels"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("width", "height")


def decode_images(df: DataFrame, id_col: str = "doc_id",
                  codec: str = "fake") -> DataFrame:
    """Decode image payloads to features via mapInPandas.

    ``codec="real"`` decodes genuinely: BMP/PPM/PGM via the built-in numpy
    parser (no image library needed), other formats via PIL when installed
    (NotImplementedError otherwise). ``codec="fake"`` derives deterministic
    stats from the raw bytes — same distributed path (Arrow batches in,
    feature batches out), zero decode cost, for plumbing tests.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({"doc_id": pdf[id_col]})
            if codec == "real":
                decoded = pdf["content"].map(
                    lambda b: decode_image_bytes(bytes(b)))
                out["width"] = decoded.map(lambda d: d[0])
                out["height"] = decoded.map(lambda d: d[1])
                out["mean_pixel"] = decoded.map(lambda d: d[2])
                out["phash"] = decoded.map(lambda d: d[3])
            else:
                out["width"] = pdf["media_meta"].map(lambda m: m["width"])
                out["height"] = pdf["media_meta"].map(lambda m: m["height"])
                stats = pdf["content"].map(
                    lambda b: _fake_image_stats(bytes(b or b"")))
                out["mean_pixel"] = stats.map(lambda s: s[0])
                out["phash"] = stats.map(lambda s: s[1])
            yield out.astype({"width": "int32", "height": "int32"})

    return df.select(id_col, "content", "media_meta").mapInPandas(
        decode_batches, schema=IMAGE_FEATURES
    )


def make_wav(samples, sample_rate: int = 16000) -> bytes:
    """Encode an int16 mono sample array as a PCM WAV blob (stdlib wave)."""
    import io
    import wave

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()




def _wav_fmt_code(payload: bytes) -> int:
    """Audio format code from the fmt chunk (1=PCM, 6=A-law, 7=mu-law)."""
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        if tag == b"fmt ":
            return int.from_bytes(payload[pos + 8:pos + 10], "little")
        pos += 8 + size + (size % 2)
    raise NotImplementedError("WAV: no fmt chunk")


def _wav_fmt_data(payload: bytes):
    """(rate, channels, data_bytes) parsed straight from RIFF chunks —
    stdlib wave refuses non-PCM formats, so companded G.711 streams are
    walked manually."""
    rate = channels = None
    data = None
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
        elif tag == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if rate is None or data is None:
        raise NotImplementedError("WAV: missing fmt/data chunk")
    return rate, channels, data


def _build_g711_tables():
    """Exact 256-entry G.711 expand tables (public ITU-T formulas)."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.int16)
    for i in range(256):
        b = ~i & 0xFF
        exp = (b >> 4) & 7
        mant = b & 0x0F
        x = (((mant << 3) + 0x84) << exp) - 0x84
        ulaw[i] = -x if b & 0x80 else x
    alaw = np.empty(256, dtype=np.int16)
    for i in range(256):
        b = i ^ 0x55
        exp = (b >> 4) & 7
        mant = b & 0x0F
        x = ((mant << 4) + 0x108) << (exp - 1) if exp else (mant << 4) + 8
        alaw[i] = x if b & 0x80 else -x     # A-law: set sign bit = positive
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _build_g711_tables()


def _wav_samples(payload: bytes):
    """Decode a WAV payload to (sample_rate, channels, x) with x the
    full-scale-normalized float64 sample stream (channels interleaved).
    PCM 16-bit and G.711 A-law/mu-law; compressed formats raise
    NotImplementedError — the wiring point for containers that ship an
    audio library."""
    import io
    import wave

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            f"no built-in decoder for audio format {payload[:4]!r}; "
            "WAV only (install an audio library for mp3/ogg/flac)")
    fmt_code = _wav_fmt_code(payload)
    if fmt_code in (6, 7):                      # G.711 A-law / mu-law
        rate, channels, raw = _wav_fmt_data(payload)
        table = _ALAW_TABLE if fmt_code == 6 else _ULAW_TABLE
        pcm = table[np.frombuffer(raw, dtype=np.uint8)]
        return rate, channels, pcm.astype(np.float64) / 32768.0
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, channels, width = w.getframerate(), w.getnchannels(), \
            w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width != 2:
        raise NotImplementedError("only 16-bit PCM WAV")
    x = np.frombuffer(raw, dtype=np.int16).astype(np.float64) / 32768.0
    return rate, channels, x


def make_wav_g711(samples, sample_rate: int = 8000, law: str = "ulaw") -> bytes:
    """Encode int16 mono samples as a G.711 companded WAV (format code
    7=mu-law / 6=A-law). The compressor is the exact inverse-by-nearest of
    the ITU expand tables used for decode (:func:`_build_g711_tables`) —
    round-trips land on the nearest representable companded level, the
    defining lossy step of telephone-band audio."""
    import struct

    import numpy as np

    if law not in ("ulaw", "alaw"):
        raise ValueError(f"unknown companding law {law!r}")
    table = _ULAW_TABLE if law == "ulaw" else _ALAW_TABLE
    order = np.argsort(table)
    levels = table[order]                       # sorted expand levels
    x = np.asarray(samples, dtype=np.int16).astype(np.int32)
    pos = np.searchsorted(levels, x).clip(1, 255)
    lo, hi = levels[pos - 1], levels[pos.clip(0, 255)]
    pick = np.where(np.abs(x - lo) <= np.abs(hi - x), pos - 1, pos)
    codes = order[pick].astype(np.uint8)
    fmt_code = 7 if law == "ulaw" else 6
    fmt = struct.pack("<HHIIHH", fmt_code, 1, sample_rate, sample_rate, 1, 8)
    data = codes.tobytes()
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _band_energy_fingerprint(x, rate: int, channels: int = 1) -> int:
    """64-bit audio fingerprint (Haitsma-Kalker flavor): split the signal
    into 9 equal TIME segments, measure energy in 8 log-spaced ABSOLUTE
    frequency bands (100-3400 Hz, the telephone band, so 8 kHz and 16 kHz
    encodings of the same content land in the same bands), and emit one
    bit per (segment-transition, band): did this band's energy rise?
    Robust to amplitude scaling (uniform gain cancels in comparisons),
    G.711 companding (quantization noise is broadband and small per band),
    and resampling (bands are Hz-absolute, segments duration-relative)."""
    import numpy as np

    if channels > 1:
        x = x.reshape(-1, channels).mean(axis=1)
    n_seg, n_bands = 9, 8
    seg_len = len(x) // n_seg
    if seg_len < 16:
        return 0
    edges = np.geomspace(100.0, 3400.0, n_bands + 1)
    energy = np.empty((n_seg, n_bands))
    for s in range(n_seg):
        seg = x[s * seg_len:(s + 1) * seg_len]
        spec = np.abs(np.fft.rfft(seg * np.hanning(len(seg)))) ** 2
        freqs = np.fft.rfftfreq(len(seg), 1.0 / rate)
        idx = np.searchsorted(freqs, edges)
        for b in range(n_bands):
            energy[s, b] = spec[idx[b]:max(idx[b + 1], idx[b] + 1)].sum()
    bits = (energy[1:] > energy[:-1]).flatten()   # (8 transitions x 8 bands)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def with_audio_fingerprint(df: DataFrame, content_col: str = "content",
                           out_col: str = "audio_fp") -> DataFrame:
    """Add a 64-bit spectral fingerprint column computed from WAV payloads
    (PCM16 / G.711 via the vendored RIFF walk). Arrow-batched pandas UDF;
    as with image hashing, only the 8-byte fingerprint survives into any
    downstream shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _fp(payloads):
        out = []
        for p in payloads:
            if p is None:
                out.append(None)
                continue
            rate, ch, x = _wav_samples(bytes(p))
            out.append(_band_energy_fingerprint(x, rate, ch or 1))
        return pd.Series(out, dtype="Int64")

    return df.withColumn(out_col, _fp(F.col(content_col)))


def audio_neardup(df: DataFrame, id_col: str = "doc_id",
                  content_col: str = "content",
                  max_hamming: int = 4) -> DataFrame:
    """Near-duplicate AUDIO clusters: spectral fingerprint per payload
    (:func:`with_audio_fingerprint`), clustered by the generic
    banded-hamming LSH shared with SimHash and image dHash
    (operators/dedup.py:hamming_neardup). Catches re-companded (PCM vs
    G.711) and resampled copies without all-pairs comparison. Returns
    (id_col, cluster_id); NULL payloads are dropped."""
    from etl_mark1_spark.operators.dedup import hamming_neardup

    fp = (with_audio_fingerprint(df.select(id_col, content_col),
                                 content_col, "_afp")
          .filter(F.col("_afp").isNotNull()))
    return hamming_neardup(fp.select(id_col, "_afp"), "_afp", id_col,
                           max_hamming)


def attach_neardup_audio_media(df: DataFrame, id_col: str = "doc_id",
                               group: int = 3) -> DataFrame:
    """Synthesize a PLANTED near-duplicate audio corpus executor-side:
    rows sharing ``id // group`` get the same telephone-band tone mix
    (8 seeded sines, 150-3200 Hz, per-segment amplitude envelopes so the
    time-difference fingerprint has signal), ``id % group`` picks the
    variant — 0: PCM16 @ 16 kHz, 1: G.711 mu-law @ 16 kHz (companding
    loss), 2: 2:1 decimated PCM16 @ 8 kHz (content < 3.4 kHz, so naive
    decimation is alias-free). Ground truth is the id arithmetic."""
    import numpy as np

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ])

    def synth(seed: int):
        rng = np.random.default_rng(seed)
        rate, n_seg, seg_len = 16000, 9, 1600
        t = np.arange(n_seg * seg_len) / rate
        x = np.zeros(len(t))
        # one tone per fingerprint band (log-spaced 150-3200 Hz): every
        # band's energy is tone-driven, never leakage/companding noise
        band_edges = np.geomspace(150.0, 3200.0, 9)
        for b in range(8):
            f = rng.uniform(band_edges[b] * 1.1, band_edges[b + 1] * 0.9)
            # per-segment amplitude from {1/4, 1/2, 1} with adjacent
            # segments FORCED to different levels: every time-transition
            # bit rests on a >=4x power step, never a near-tie that
            # companding or resampling noise could flip
            lvl = rng.integers(0, 3, size=n_seg)
            for s in range(1, n_seg):
                if lvl[s] == lvl[s - 1]:
                    lvl[s] = (lvl[s] + 1 + rng.integers(0, 2)) % 3
            env = np.repeat(np.array([0.25, 0.5, 1.0])[lvl], seg_len)
            x += env * np.sin(2 * np.pi * f * t + rng.uniform(0, 2 * np.pi))
        x /= np.abs(x).max() + 1e-9
        return (x * 20000).astype(np.int16), rate

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for i in pdf[id_col]:
                i = int(i)
                pcm, rate = synth(i // group)
                variant = i % group
                if variant % 3 == 1:
                    blob = make_wav_g711(pcm, rate, law="ulaw")
                elif variant % 3 == 2:
                    blob = make_wav(pcm[::2], rate // 2)
                else:
                    blob = make_wav(pcm, rate)
                rows.append((i, blob))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])
            rows = []

    return df.select(id_col).mapInPandas(gen, schema=out_schema)


VIDEO_FRAME_HASHES = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("fhash", T.LongType(), True),
])


def with_video_frame_hashes(df: DataFrame, id_col: str = "doc_id",
                            content_col: str = "content",
                            every_ms: int = 1000) -> DataFrame:
    """Explode each MJPEG AVI payload into one row per sampled timestamp
    carrying the 64-bit dHash of the frame nearest that timestamp
    (vendored RIFF walk + JPEG decode, executor-side mapInPandas).
    Returns (doc_id, frame_idx, fhash) — the per-video fingerprint
    SEQUENCE, 12 bytes per sampled frame; payloads never leave their
    partition."""
    from etl_mark1_spark.operators.avi import decode_avi

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                fps, frames = decode_avi(bytes(blob))
                duration_ms = len(frames) * 1000 // max(fps, 1)
                for k, ts in enumerate(range(0, duration_ms, every_ms)):
                    fr = frames[min(int(round(ts * fps / 1000.0)),
                                    len(frames) - 1)]
                    rows.append((int(i), k,
                                 _dhash(decode_image_pixels(fr))))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx",
                                              "fhash"])

    return df.select(F.col(id_col).alias("doc_id"), content_col) \
        .mapInPandas(sample, schema=VIDEO_FRAME_HASHES)


def video_neardup(df: DataFrame, id_col: str = "doc_id",
                  content_col: str = "content", every_ms: int = 1000,
                  max_hamming: int = 4,
                  min_match_frac: float = 0.8) -> DataFrame:
    """Near-duplicate VIDEO clusters: per-sampled-frame dHash sequences
    (:func:`with_video_frame_hashes`), candidate pairs from the
    pigeonhole band join APPLIED PER (frame_idx, band) — two videos
    become candidates when any aligned frame shares a clean hash band —
    then exact verification: the fraction of aligned frames within
    ``max_hamming`` bits must reach ``min_match_frac`` of the LONGER
    sequence (so a clip matching a prefix of a longer video does not
    merge). Min-label components as everywhere else. Candidate volume is
    bucket-bounded; only (id, frame_idx, 8-byte hash) rows shuffle —
    never frames. Returns (id_col, cluster_id); NULL payloads drop."""
    from etl_mark1_spark.operators.dedup import (_band_pairs,
                                                 _cluster_min_label,
                                                 _pigeonhole_buckets)

    # The hash-sequence frame fans out five ways (band buckets left/right,
    # both sides of the aligned verify, per-video counts, id universe);
    # checkpoint it so the AVI-walk + JPEG-decode lineage runs ONCE and
    # everything downstream reads 12-byte rows.
    hashes = with_video_frame_hashes(df, id_col, content_col,
                                     every_ms).localCheckpoint()
    cand = _band_pairs(hashes.select(
        "doc_id", "frame_idx",
        F.explode(_pigeonhole_buckets("fhash", max_hamming)).alias("_bucket")),
        "doc_id", keys=("frame_idx", "_bucket"))

    counts = hashes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    ha = hashes.select(F.col("doc_id").alias("src"),
                       F.col("frame_idx").alias("_fi"),
                       F.col("fhash").alias("_ha"))
    hb = hashes.select(F.col("doc_id").alias("_dst2"),
                       F.col("frame_idx").alias("_fj"),
                       F.col("fhash").alias("_hb"))
    matched = (cand.join(ha, "src")
               .join(hb, (F.col("dst") == F.col("_dst2"))
                     & (F.col("_fi") == F.col("_fj")))
               .filter(F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
                       <= max_hamming)
               .groupBy("src", "dst")
               .agg(F.count(F.lit(1)).alias("_m")))
    ca = counts.select(F.col("doc_id").alias("src"), F.col("_n").alias("_na"))
    cb = counts.select(F.col("doc_id").alias("dst"), F.col("_n").alias("_nb"))
    edges = (matched.join(ca, "src").join(cb, "dst")
             .filter(F.col("_m") >= min_match_frac
                     * F.greatest("_na", "_nb"))
             .select("src", "dst"))
    ids = hashes.select(F.col("doc_id").alias(id_col)).distinct()
    return _cluster_min_label(ids, edges, id_col)


def attach_neardup_video_media(df: DataFrame, id_col: str = "doc_id",
                               group: int = 3) -> DataFrame:
    """Synthesize a PLANTED near-duplicate MJPEG corpus executor-side:
    rows sharing ``id // group`` get the same frame content (per-frame
    smooth images, seed mixes the group and the frame index), ``id %
    group`` picks the variant — 0: JPEG q90 frames, 1: JPEG q70
    re-encode (generation loss), 2: spatially 2x-upscaled q90 frames.
    4-second clips at 4 fps (16 frames; every_ms=1000 samples 4).
    Ground truth is the id arithmetic."""
    from etl_mark1_spark.operators.avi import make_avi
    from etl_mark1_spark.operators.jpeg import make_jpeg

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for i in pdf[id_col]:
                i = int(i)
                base, variant = i // group, i % group
                frames = []
                for fidx in range(16):
                    px = _smooth_image(base * 1009 + fidx)
                    if variant % 3 == 2:
                        px = _resize_bilinear(px, 96, 96)
                    q = 70 if variant % 3 == 1 else 90
                    frames.append(make_jpeg(px, quality=q))
                rows.append((i, make_avi(frames, fps=4)))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])
            rows = []

    return df.select(id_col).mapInPandas(gen, schema=out_schema)


def decode_audio_bytes(payload: bytes):
    """REAL audio decode for PCM WAV: (sample_rate, channels, duration_ms,
    rms) with rms normalized to [0, 1] over full-scale int16."""
    import numpy as np

    rate, channels, x = _wav_samples(payload)
    n = len(x) // max(channels, 1)
    duration_ms = int(n * 1000 / rate)
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    return rate, channels, duration_ms, round(rms, 6)


def audio_spectral_bytes(payload: bytes, n_fft: int = 512):
    """Spectral feature extraction over a WAV payload, numpy-only: the
    standard short-time magnitude-spectrum statistics an audio curation
    pipeline gates on (librosa's feature set, computed from first
    principles — Hann-windowed frames, hop n_fft/2, power averaged
    across frames):

    - zcr: zero-crossing rate per sample (a 1 kHz tone at 16 kHz gives
      2*f/rate = 0.125; hiss approaches 0.5);
    - spectral_centroid_hz: power-weighted mean frequency;
    - spectral_rolloff_hz: the frequency below which 85% of total power
      lies;
    - spectral_bandwidth_hz: power-weighted standard deviation around
      the centroid.

    Returns (sample_rate, duration_ms, rms, zcr, centroid, rolloff,
    bandwidth). Multichannel audio is averaged to mono first."""
    import numpy as np

    rate, channels, x = _wav_samples(payload)
    n = len(x) // max(channels, 1)
    duration_ms = int(n * 1000 / rate)
    if channels > 1:
        x = x[:n * channels].reshape(n, channels).mean(axis=1)
    if len(x) == 0:
        return rate, 0, 0.0, 0.0, 0.0, 0.0, 0.0
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) \
        if len(x) > 1 else 0.0
    # Hann-windowed frames, hop n_fft/2; one zero-padded frame for short
    # clips so every payload yields a spectrum
    hop = n_fft // 2
    if len(x) < n_fft:
        frames = np.zeros((1, n_fft))
        frames[0, :len(x)] = x
    else:
        n_frames = 1 + (len(x) - n_fft) // hop
        idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
        frames = x[idx]
    spec = np.abs(np.fft.rfft(frames * np.hanning(n_fft), axis=1)) ** 2
    power = spec.mean(axis=0)
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / rate)
    total = power.sum()
    if total <= 0:
        return rate, duration_ms, round(rms, 6), round(zcr, 6), 0.0, 0.0, 0.0
    centroid = float((freqs * power).sum() / total)
    rolloff = float(freqs[np.searchsorted(np.cumsum(power),
                                          0.85 * total)])
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * power).sum()
                              / total))
    return (rate, duration_ms, round(rms, 6), round(zcr, 6),
            round(centroid, 2), round(rolloff, 2), round(bandwidth, 2))


def attach_wav_media(df: DataFrame, id_col: str = "doc_id",
                     sample_rate: int = 16000) -> DataFrame:
    """Synthesize a real PCM WAV per row (id-seeded sine: frequency and
    amplitude derive from the id) — generated executor-side in
    mapInPandas, like attach_bmp_media."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                n = sample_rate // 10 + (i % 5) * sample_rate // 100
                freq = 110.0 * (1 + i % 8)
                amp = 0.1 + (i % 9) / 10.0
                t = np.arange(n) / sample_rate
                samples = (np.sin(2 * np.pi * freq * t) * amp * 32767) \
                    .astype(np.int16)
                rows.append((i, make_wav(samples, sample_rate),
                             int(n * 1000 / sample_rate)))
            yield pd.DataFrame(rows,
                               columns=["doc_id", "content", "duration_ms"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("audio").alias("modality"), F.lit("wav").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(sample_rate).cast("int").alias("sample_rate"),
        F.lit(1).cast("int").alias("channels"),
        F.col("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("duration_ms")


def decode_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode audio payloads to features via mapInPandas (real PCM WAV
    decode; schema AUDIO_FEATURES)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["content"].map(
                lambda b: decode_audio_bytes(bytes(b)))
            out = pd.DataFrame({
                "doc_id": pdf[id_col],
                "sample_rate": decoded.map(lambda d: d[0]),
                "duration_ms": decoded.map(lambda d: d[2]),
                "rms": decoded.map(lambda d: d[3]),
            })
            yield out.astype({"sample_rate": "int32", "duration_ms": "int64"})

    return df.select(id_col, "content").mapInPandas(
        decode_batches, schema=AUDIO_FEATURES)


AUDIO_SPECTRAL = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zcr", T.DoubleType(), True),
    T.StructField("spectral_centroid_hz", T.DoubleType(), True),
    T.StructField("spectral_rolloff_hz", T.DoubleType(), True),
    T.StructField("spectral_bandwidth_hz", T.DoubleType(), True),
])


def audio_features(df: DataFrame, id_col: str = "doc_id",
                   n_fft: int = 512) -> DataFrame:
    """Spectral audio features per payload (:func:`audio_spectral_bytes`:
    rms, zero-crossing rate, spectral centroid/rolloff/bandwidth) —
    the gate signals an audio curation pipeline filters on (silence,
    hiss, band-limited junk). Partition-preserving mapInPandas; payloads
    never cross a shuffle, numpy FFT does the work executor-side."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(int(i),) + audio_spectral_bytes(bytes(b), n_fft)
                    for i, b in zip(pdf[id_col], pdf["content"])]
            out = pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "duration_ms", "rms", "zcr",
                "spectral_centroid_hz", "spectral_rolloff_hz",
                "spectral_bandwidth_hz"])
            yield out.astype({"sample_rate": "int32",
                              "duration_ms": "int64"})

    return df.select(id_col, "content").mapInPandas(
        feats, schema=AUDIO_SPECTRAL)


def _resize_bilinear(img, width: int, height: int):
    """Vectorized bilinear resample to (height, width); accepts (h, w) or
    (h, w, c) uint8 and returns the same rank. Pixel-center sampling
    (src = (dst + 0.5) * scale - 0.5), the convention of stock resizers,
    so down- and up-scaling both stay artifact-free."""
    import numpy as np

    arr = np.asarray(img, dtype=np.float64)
    h, w = arr.shape[:2]
    ys = np.clip((np.arange(height) + 0.5) * h / height - 0.5, 0, h - 1)
    xs = np.clip((np.arange(width) + 0.5) * w / width - 0.5, 0, w - 1)
    y0 = np.floor(ys).astype(int)
    x0 = np.floor(xs).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    if arr.ndim == 3:
        fy, fx = fy[..., None], fx[..., None]
    top = arr[y0][:, x0] * (1 - fx) + arr[y0][:, x1] * fx
    bot = arr[y1][:, x0] * (1 - fx) + arr[y1][:, x1] * fx
    return np.clip(top * (1 - fy) + bot * fy, 0, 255) \
        .round().astype(np.uint8)


def resize_images(df: DataFrame, width: int, height: int,
                  id_col: str = "doc_id", codec: str = "fake") -> DataFrame:
    """Resize the ``content`` binary column to (width, height).

    ``codec="real"``: decode through the vendored codecs
    (:func:`decode_image_pixels` — BMP/PPM/JPEG incl. progressive/PNG/
    GIF), bilinear-resample executor-side in mapInPandas, and re-encode
    as uncompressed 24-bit BMP (the format the repo can write
    losslessly), updating media_meta to the new dims/format/size. The
    output rows feed straight back into :func:`decode_images`.

    ``codec="fake"`` (default) rewrites metadata and re-hashes content
    deterministically, preserving the binary column shape — the
    plumbing-only mode for payloads the container cannot decode.

    At 100 TB both modes are partition-preserving map work; payloads
    never cross a shuffle."""
    if codec == "real":
        def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            for pdf in batches:
                blobs = []
                for b in pdf["content"]:
                    img = decode_image_pixels(bytes(b))
                    small = _resize_bilinear(img, width, height)
                    if small.ndim == 3 and small.shape[2] == 1:
                        small = small[:, :, 0]   # PGM decodes as (h, w, 1)
                    if small.ndim == 2:          # BMP encoder is 24-bit
                        small = np.stack([small] * 3, axis=-1)
                    blobs.append(make_bmp(small))
                out = pdf.copy()
                out["content"] = blobs
                yield out

        resized = df.mapInPandas(rz, schema=df.schema)
        meta = F.col("media_meta")
        new_meta = F.struct(
            meta["modality"].alias("modality"),
            F.lit("bmp").alias("format"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            meta["sample_rate"].alias("sample_rate"),
            meta["channels"].alias("channels"),
            meta["duration_ms"].alias("duration_ms"),
            F.length("content").cast("long").alias("n_bytes"),
        )
        return resized.withColumn("media_meta", new_meta)
    meta = F.col("media_meta")
    new_meta = F.struct(
        meta["modality"].alias("modality"),
        meta["format"].alias("format"),
        F.lit(width).cast("int").alias("width"),
        F.lit(height).cast("int").alias("height"),
        meta["sample_rate"].alias("sample_rate"),
        meta["channels"].alias("channels"),
        meta["duration_ms"].alias("duration_ms"),
        meta["n_bytes"].alias("n_bytes"),
    )
    resized = F.to_binary(
        F.md5(F.concat(F.base64(F.col("content")),
                       F.lit(f":{width}x{height}"))), F.lit("hex")
    )
    return df.withColumn("media_meta", new_meta).withColumn("content", resized)


VIDEO_FRAME_FEATURES = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_ms", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_pixel", T.DoubleType(), True),
    T.StructField("phash", T.StringType(), True),
])


def attach_avi_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL MJPEG AVI per row (id-seeded JPEG frames packed
    by the vendored container writer, operators/avi.py) — executor-side
    in mapInPandas like the other attach_* generators. Frame counts and
    rates vary per id so the sampler's index math stays exercised."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("fps", T.IntegerType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from etl_mark1_spark.operators.avi import make_avi
        from etl_mark1_spark.operators.jpeg import make_jpeg

        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + (i % 4) * 8, 16 + ((i // 2) % 3) * 8
                n_frames, fps = 3 + i % 4, 2 + i % 3
                yy, xx = np.mgrid[0:h, 0:w]
                frames = []
                for f in range(n_frames):
                    px = np.stack([
                        (xx * 8 + f * 40 + i) % 256,
                        (yy * 8 + f * 23) % 256,
                        np.full((h, w), (i * 7 + f * 11) % 256),
                    ], axis=-1).astype(np.uint8)
                    frames.append(make_jpeg(px, quality=90))
                rows.append((i, make_avi(frames, fps=fps), n_frames, fps))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "n_frames", "fps"])

    flat = df.select(id_col).mapInPandas(gen, schema=out_schema)
    meta = F.struct(
        F.lit("video").alias("modality"), F.lit("avi").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("channels"),
        (F.col("n_frames") * 1000 / F.col("fps")).cast("long")
        .alias("duration_ms"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    return flat.withColumn("media_meta", meta).drop("n_frames", "fps")


def sample_video_frames(df: DataFrame, every_ms: int = 1000,
                        id_col: str = "doc_id", codec: str = "fake") -> DataFrame:
    """Frame sampling: one output row per sampled timestamp.

    ``codec="real"`` is a genuine decode path for MJPEG AVI — the
    container parses with operators/avi.py, the frame nearest each
    sampled timestamp decodes through the vendored JPEG codec, and each
    row carries true dimensions, mean pixel, and average-hash. Other
    containers (mp4/h264...) raise NotImplementedError from the parser —
    the ffmpeg wiring point. ``codec="fake"`` keeps the deterministic
    hash stand-in for environments exercising only the explode shape.
    Both run partition-preserving mapInPandas / map-side expressions —
    a million clips parallelize by row.
    """
    if codec == "real":
        def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from etl_mark1_spark.operators.avi import decode_avi

            for pdf in batches:
                rows = []
                for i, payload in zip(pdf[id_col], pdf["content"]):
                    fps, frames = decode_avi(bytes(payload))
                    dur_ms = len(frames) * 1000 // fps
                    t = 0
                    while t == 0 or t < dur_ms:
                        fi = min(t * fps // 1000, len(frames) - 1)
                        w, h, mean, ph = decode_image_bytes(frames[fi])
                        rows.append((int(i), t, w, h, mean, ph))
                        t += every_ms
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "frame_ms", "width", "height",
                    "mean_pixel", "phash"])

        return (df.select(F.col(id_col), "content")
                .mapInPandas(sample, schema=VIDEO_FRAME_FEATURES))
    ts = F.explode(
        F.sequence(F.lit(0),
                   F.greatest(F.col("media_meta")["duration_ms"] - 1, F.lit(0)),
                   F.lit(every_ms))
    ).alias("frame_ms")
    frame = F.to_binary(
        F.md5(F.concat(F.base64(F.col("content")), F.lit(":"),
                       F.col("frame_ms").cast("string"))), F.lit("hex"))
    return (
        df.select(F.col(id_col), F.col("content"), F.col("media_meta"), ts)
        .select(id_col, "frame_ms", frame.alias("frame"))
    )


def with_image_exif(df: DataFrame, content_col: str = "content",
                    id_col: str = "doc_id") -> DataFrame:
    """EXIF metadata columns from JPEG payloads
    (operators/jpeg.py:parse_exif): ``(id, exif_orientation int,
    exif_make string, exif_model string, exif_datetime_original string,
    exif_pixel_x int, exif_pixel_y int)`` — NULL where a tag (or all of
    EXIF) is absent. Orientation is the one every image pipeline must
    read BEFORE any pixel op (resize/hash of an unrotated portrait is a
    different image). Partition-preserving mapInPandas; payloads never
    shuffle."""
    from etl_mark1_spark.operators.jpeg import parse_exif

    id_field = df.schema[id_col]
    schema = (f"{id_col} {id_field.dataType.simpleString()}, "
              "exif_orientation int, exif_make string, exif_model string, "
              "exif_datetime_original string, exif_pixel_x int, "
              "exif_pixel_y int")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                tags = parse_exif(bytes(content)) if content is not None \
                    else {}
                rows.append((rid, tags.get("orientation"),
                             tags.get("make"), tags.get("model"),
                             tags.get("datetime_original"),
                             tags.get("pixel_x"), tags.get("pixel_y")))
            yield pd.DataFrame(rows, columns=[
                id_col, "exif_orientation", "exif_make", "exif_model",
                "exif_datetime_original", "exif_pixel_x", "exif_pixel_y"])

    return df.select(id_col, content_col).mapInPandas(run, schema)


def apply_exif_orientation(pixels, orientation: int | None):
    """The 8 EXIF orientation transforms (CP-3451 table) applied to a
    decoded pixel array — the normalization every image pipeline runs
    before resize/hash (an unrotated portrait hashes as a different
    image). 1/None = identity; 2 = mirror; 3 = rotate 180; 4 = flip
    vertical; 5 = transpose; 6 = rotate 90 CW; 7 = transverse;
    8 = rotate 90 CCW. Pure numpy, O(1) views where possible."""
    import numpy as np

    if orientation in (None, 1):
        return pixels
    if orientation == 2:
        return np.flip(pixels, axis=1)
    if orientation == 3:
        return np.flip(np.flip(pixels, axis=0), axis=1)
    if orientation == 4:
        return np.flip(pixels, axis=0)
    if orientation == 5:
        return np.swapaxes(pixels, 0, 1)
    if orientation == 6:
        return np.flip(np.swapaxes(pixels, 0, 1), axis=1)
    if orientation == 7:
        return np.flip(np.flip(np.swapaxes(pixels, 0, 1), 0), 1)
    if orientation == 8:
        return np.flip(np.swapaxes(pixels, 0, 1), axis=0)
    raise ValueError(f"EXIF orientation out of range: {orientation}")


def normalize_orientation(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    """Auto-rotate JPEG payloads per their EXIF orientation: decode,
    apply the orientation transform, re-encode as BMP (orientation
    consumed, so none is re-attached): ``(id, content binary, width,
    height)`` with post-rotation dimensions. Images without EXIF (or
    orientation 1) pass through the same decode/re-encode path, so the
    output column is uniformly BMP. Partition-preserving mapInPandas —
    payloads never shuffle."""
    import numpy as np

    from etl_mark1_spark.operators.jpeg import parse_exif

    id_field = df.schema[id_col]
    schema = (f"{id_col} {id_field.dataType.simpleString()}, "
              "content binary, width int, height int")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                data = bytes(content)
                pix = decode_image_pixels(data)
                ori = parse_exif(data).get("orientation")
                pix = apply_exif_orientation(pix, ori)
                if pix.ndim == 2:
                    pix = np.stack([pix] * 3, axis=-1)
                elif pix.ndim == 3 and pix.shape[2] == 1:
                    pix = np.repeat(pix, 3, axis=2)
                rows.append((rid, make_bmp(pix), int(pix.shape[1]),
                             int(pix.shape[0])))
            yield pd.DataFrame(rows, columns=[id_col, "content", "width",
                                              "height"])

    return df.select(id_col, content_col).mapInPandas(run, schema)
