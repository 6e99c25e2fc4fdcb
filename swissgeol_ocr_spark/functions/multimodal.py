"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched kernels.

The reference's media handling (P5 JPX→JPG normalize, P6 crop-to-page,
P7 size-budget downscale loop, P8 stencil invert — crop.py:25-194,
applyocr.py:34-49) mixes engine semantics with codec work. The engine
semantics here are REAL and tested — schema, partitioning, batch shape,
budget accounting — and so is the pixel path for codec-free Netpbm
rasters: ``decode_raster`` parses P6/PPM (RGB) and P5/PGM (grayscale
stencil) payloads with pure numpy, ``invert_stencil`` applies the P8
stencil inversion, and ``extract_media_features`` reduces the actual
pixels. Only codec-bound formats (JPEG/audio/video) fall back to the
clearly-marked ``_decode_stub`` — swap in a real codec (PIL/ffmpeg) on a
cluster image that ships one.

Operators:
* ``media_table_schema``      — binary payload + typed metadata struct
* ``normalize_media``         — P5-shaped format normalization (jpx→jpg)
* ``downscale_oversized``     — P7 ≤10MB budget loop as metadata transform
* ``decode_raster``           — REAL P6/P5 Netpbm decode (pure numpy)
* ``invert_stencil``          — P8 stencil inversion on real pixels
* ``extract_media_features``  — mapInPandas feature extraction (batched)
* ``sample_frames``           — video frame sampling plan (offsets only)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TEN_MB = 10 * 1024 * 1024  # the reference's page-payload budget (applyocr.py:34)
MAX_DOWNSCALE_ITERS = 10  # applyocr.py:37


def media_table_schema() -> str:
    return (
        "media_ref string, doc_id string, kind string, "
        "payload binary, "
        "meta struct<format:string, width:int, height:int, "
        "n_bytes:bigint, duration_ms:bigint>"
    )


def _decode_stub(payload: bytes) -> np.ndarray:
    """STUB for codec-bound decode (audio/video/JPEG — their codecs are not
    in this container). Produces a deterministic 8×8 'pixel' block from the
    payload digest so downstream plumbing is exercised end-to-end with
    stable values. Replace with a real decoder (PIL/ffmpeg) on a cluster
    image that ships one. Raster images never reach this: they decode for
    real via ``decode_raster``."""
    digest = hashlib.sha256(payload or b"").digest()
    return np.frombuffer((digest * 2)[:64], dtype=np.uint8).reshape(8, 8)


_NETPBM_WS = b" \t\r\n\x0b\x0c"


def _parse_netpbm_header(payload: bytes) -> tuple[bytes, int, int, int, int] | None:
    """Whitespace/comment-aware Netpbm header tokenizer (the spec allows
    any whitespace between header tokens and ``#``-to-end-of-line comments
    anywhere in the header). Returns (magic, w, h, maxval, data_offset) —
    data starts after EXACTLY ONE whitespace byte following maxval — or
    None when the bytes are not a P5/P6 header."""
    if payload is None or len(payload) < 2 or payload[:1] != b"P":
        return None
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        return None
    n = len(payload)
    i = 2
    if i >= n or payload[i] not in _NETPBM_WS and payload[i] != 0x23:
        return None  # 'P6x' is not a magic; whitespace/comment must follow
    vals: list[int] = []
    while len(vals) < 3:
        while i < n:
            c = payload[i]
            if c in _NETPBM_WS:
                i += 1
            elif c == 0x23:  # '#' comment runs to end of line
                while i < n and payload[i] not in b"\r\n":
                    i += 1
            else:
                break
        j = i
        while j < n and 0x30 <= payload[j] <= 0x39:
            j += 1
        if j == i:
            return None
        vals.append(int(payload[i:j]))
        i = j
    if i >= n or payload[i] not in _NETPBM_WS:
        return None
    return magic, vals[0], vals[1], vals[2], i + 1


def decode_raster(payload: bytes) -> tuple[np.ndarray, bool] | None:
    """REAL pixel decode for the codec-free Netpbm rasters (pure numpy):

    * ``P6`` (PPM): header ``P6 {w} {h} {maxval}`` (any whitespace between
      tokens, ``#`` comments allowed) + one whitespace byte + w*h*3 raw
      RGB bytes → (h, w, 3) uint8 array
    * ``P5`` (PGM): same header, 1 byte/px → (h, w) uint8 array; flagged
      as a stencil (the reference's colorspace-less stencil pixmap,
      crop.py:187-190)

    Returns (pixels, is_stencil), or None when the payload is not a
    Netpbm raster (codec formats fall back to the declared stub)."""
    # a malformed header must mean "not a decodable raster" (stub fallback),
    # never an exception out of the Spark task — at corpus scale a single
    # poison payload would otherwise fail the job
    header = _parse_netpbm_header(payload)
    if header is None:
        return None
    try:
        magic, w, h, mv, off = header
        raw = payload[off:]
        if mv > 255 or mv <= 0:
            # maxval > 255 means 2 bytes/sample (Netpbm spec) — unsupported
            # here; mis-decoding it as uint8 would emit wrong features with
            # decoded=true
            return None
        depth = 3 if magic == b"P6" else 1
        n = w * h * depth
        if n <= 0 or len(raw) < n:
            return None
        px = np.frombuffer(raw[:n], dtype=np.uint8)
        if mv != 255:
            # legal 1-byte raster with a smaller white point: rescale to
            # the canonical 0..255 range (integer round-half-up) so every
            # downstream consumer — features, invert, the maxval-255
            # re-encode in downscale_raster_x2 — sees correct intensities
            scaled = (px.astype(np.int32) * 255 + mv // 2) // mv
            # samples above the declared white point (malformed) clamp to
            # white instead of wrapping in the uint8 cast
            px = np.minimum(scaled, 255).astype(np.uint8)
        px = px.reshape(h, w, 3) if depth == 3 else px.reshape(h, w)
    except ValueError:
        return None
    return px, magic == b"P5"


def invert_stencil(px: np.ndarray) -> np.ndarray:
    """P8 — invert a stencil raster (reference crop.py:187-190: a
    colorspace-less pixmap is inverted with ``invert_irect`` before use)."""
    return (255 - px.astype(np.int32)).astype(np.uint8)


def downscale_raster_x2(payload: bytes) -> bytes | None:
    """REAL half-resolution resize of a Netpbm raster — the pixel leg of
    the P7 budget loop (reference crop.py:145-180 ``downscale_images_x2``:
    ``img.resize((width // 2, height // 2))``, skipped when either halved
    dimension is 0). Codec-free analog: stride-2 nearest-neighbor sampling
    to exactly (w//2, h//2), re-encoded as the same P6/P5 format. Returns
    None when the payload is not a decodable raster or is too small to
    halve (the reference's ``continue``)."""
    decoded = decode_raster(payload)
    if decoded is None:
        return None
    px, is_stencil = decoded
    h, w = px.shape[0], px.shape[1]
    hw, hh = w // 2, h // 2
    if hw <= 0 or hh <= 0:
        return None
    half = px[: 2 * hh : 2, : 2 * hw : 2]
    magic = b"P5" if is_stencil else b"P6"
    return magic + b"\n" + f"{hw} {hh}".encode() + b"\n255\n" + half.tobytes()


def normalize_media(media: DataFrame) -> DataFrame:
    """P5 (crop.py:126-142): viewer-hostile formats are re-encoded. As a
    metadata transform: jpx/jp2 become jpg; payload passthrough (the stub
    re-encode is the identity — format conversion happens in the real
    codec kernel)."""
    fmt = F.col("meta.format")
    new_fmt = F.when(fmt.isin("jpx", "jp2"), F.lit("jpg")).otherwise(fmt)
    return media.withColumn(
        "meta",
        F.struct(
            new_fmt.alias("format"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ),
    )


def downscale_oversized(media: DataFrame) -> DataFrame:
    """P7 (applyocr.py:34-49): halve resolution until the payload fits the
    10MB budget, at most 10 iterations; items that still don't fit are
    flagged for skipping (the reference skips the page). Pure column math
    over the metadata — each halving quarters the byte estimate."""
    n_bytes = F.col("meta.n_bytes")
    # number of halvings needed: smallest k ≤ 10 with n/4^k STRICTLY below
    # the budget (the reference's `if size < ten_mb: break`, applyocr.py:38).
    # ceil(log4(n/10MB)) undercounts by one at exact powers of 4 (log4(1)=0
    # but 10MB needs one halving) and is float-fragile at boundaries, so the
    # estimate is corrected by one exact-arithmetic check.
    k = F.ceil(F.log(4.0, n_bytes / F.lit(float(TEN_MB))))
    k = F.greatest(F.lit(0), F.least(F.lit(MAX_DOWNSCALE_ITERS), k.cast("int")))
    k = F.when(
        (k < MAX_DOWNSCALE_ITERS)
        & ((n_bytes / F.pow(F.lit(4.0), k.cast("double"))) >= F.lit(float(TEN_MB))),
        k + 1,
    ).otherwise(k)
    fits = (n_bytes / F.pow(F.lit(4.0), k.cast("double"))) < F.lit(float(TEN_MB))
    return media.select(
        "*",
        k.alias("downscale_iters"),
        (~fits).alias("skip_oversized"),
        (F.col("meta.width") / F.pow(F.lit(2.0), k.cast("double"))).cast("int").alias("eff_width"),
        (F.col("meta.height") / F.pow(F.lit(2.0), k.cast("double"))).cast("int").alias("eff_height"),
    )


def crop_to_visible(media: DataFrame) -> DataFrame:
    """P6 crop-to-page with the reference's cost rule (crop.py:85-123):
    crop the image to its visible page region, but keep the crop ONLY if
    the result is ≥20% smaller — ``if len(img_byte_arr) > 0.8 * dict["size"]:
    skip`` (crop.py:110-115). Pure column math over the metadata.

    Expects visible-region columns (vx0, vy0, vx1, vy1) in image pixel
    coordinates alongside the media schema. The crop rect is intersected
    with the image box and rounded outward to integer pixels (the
    reference's ``crop.round()``, crop.py:97). The re-encoded size is a
    deterministic area-proportional estimate (the pixel re-encode itself
    is codec work — see module docstring); the accept/skip decision and
    the metadata rewrite are the real engine semantics."""
    w, h, n = F.col("meta.width"), F.col("meta.height"), F.col("meta.n_bytes")
    cx0 = F.floor(F.greatest(F.lit(0.0), F.col("vx0"))).cast("int")
    cy0 = F.floor(F.greatest(F.lit(0.0), F.col("vy0"))).cast("int")
    cx1 = F.ceil(F.least(w.cast("double"), F.col("vx1"))).cast("int")
    cy1 = F.ceil(F.least(h.cast("double"), F.col("vy1"))).cast("int")
    crop_w = F.greatest(F.lit(0), cx1 - cx0)
    crop_h = F.greatest(F.lit(0), cy1 - cy0)
    # deterministic stand-in for the JPEG re-encode: bytes scale with the
    # kept pixel fraction (floor keeps the estimate integral + cross-engine)
    est = F.floor(
        n.cast("double") * (crop_w * crop_h).cast("double") / (w * h).cast("double")
    ).cast("bigint")
    accepted = (crop_w > 0) & (crop_h > 0) & ~(
        est.cast("double") > 0.8 * n.cast("double")
    )
    return media.select(
        "*",
        crop_w.alias("crop_w"),
        crop_h.alias("crop_h"),
        est.alias("est_bytes"),
        accepted.alias("crop_accepted"),
        F.when(accepted, crop_w).otherwise(w).alias("eff_width"),
        F.when(accepted, crop_h).otherwise(h).alias("eff_height"),
        F.when(accepted, est).otherwise(n).alias("eff_bytes"),
    )


def downscale_media(media: DataFrame) -> DataFrame:
    """Half-resolution resize as a DataFrame operator: the payload column
    is replaced by its ``downscale_raster_x2`` re-encode inside a
    ``mapInPandas`` kernel (rows whose payload is not a halvable raster
    pass through unchanged — the reference skips those images,
    crop.py:161-163). Composes with ``extract_media_features``:
    features-of-downscaled is literally
    ``extract_media_features(downscale_media(df))``. No shuffle; rows keep
    their partitions."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                raw = bytes(p) if p is not None else None
                half = downscale_raster_x2(raw) if raw is not None else None
                out.append(half if half is not None else p)
            pdf = pdf.copy()
            pdf["payload"] = out
            yield pdf

    return media.mapInPandas(kernel, media.schema)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column via
    ``mapInPandas`` — one pandas chunk = many media rows, decode + reduce
    inside, no per-row Python UDF.

    Netpbm raster payloads (P6/P5) decode for REAL (``decode_raster``);
    stencil rasters are inverted first (P8, ``invert_stencil``) — the
    emitted statistics are of the pixels downstream would actually consume.
    Codec formats (audio/video/JPEG) fall back to the declared digest stub
    with ``decoded = false``.

    Emitted per row: raster dims, byte-sample count, sum/min/max, dark-pixel
    count (< 64), mean (floor-quantized to 6dp so a SQL oracle reproduces it
    bit-for-bit), and an md5 over the reduced pixel buffer."""

    out_schema = (
        "media_ref string, doc_id string, decoded boolean, is_stencil boolean, "
        "px_w int, px_h int, n_samples bigint, sum_px bigint, "
        "min_px int, max_px int, n_dark bigint, mean_px double, "
        "feature_hash string"
    )

    def _feats(payload) -> tuple:
        raw = bytes(payload) if payload is not None else b""
        decoded = decode_raster(raw)
        if decoded is None:
            block, is_stencil, ok = _decode_stub(raw), False, False
            w, h = 8, 8
        else:
            block, is_stencil = decoded
            ok = True
            w, h = block.shape[1], block.shape[0]
            if is_stencil:
                block = invert_stencil(block)
        flat = block.reshape(-1)
        n = int(flat.size)
        s = int(flat.sum(dtype=np.int64))
        # floor-quantize: engines agree exactly, no round-half boundary
        mean_px = float(np.floor(s * 1_000_000.0 / n) / 1_000_000.0)
        return (
            ok, is_stencil, w, h, n, s,
            int(flat.min()), int(flat.max()),
            int(np.count_nonzero(flat < 64)), mean_px,
            hashlib.md5(block.tobytes()).hexdigest(),
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_feats(p) for p in pdf["payload"]]
            cols = list(zip(*feats)) if feats else [[] for _ in range(11)]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "doc_id": pdf["doc_id"],
                    "decoded": cols[0],
                    "is_stencil": cols[1],
                    "px_w": cols[2],
                    "px_h": cols[3],
                    "n_samples": cols[4],
                    "sum_px": cols[5],
                    "min_px": cols[6],
                    "max_px": cols[7],
                    "n_dark": cols[8],
                    "mean_px": cols[9],
                    "feature_hash": cols[10],
                }
            )

    return media.mapInPandas(kernel, out_schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame offset
    (explode over a sequence — the decode of each frame is the stubbed
    kernel above). Partitioning: frames inherit the media row's partition;
    no shuffle."""
    video = media.filter(F.col("kind") == "video")
    return video.select(
        "media_ref",
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.lit(0), F.col("meta.duration_ms") - 1),
                F.lit(every_ms),
            )
        ).alias("frame_offset_ms"),
    )
