"""Image augmentation + perceptual-quality UDFs over the binary column.

Training-data pipelines over a 10^12-image corpus need deterministic,
re-runnable augmentation (flip/rotate/crop/brightness) and a perceptual
quality score stronger than PSNR (SSIM — hexlib/image.ssim). Both are
Arrow-batched pandas UDFs in the style of functions/image_fns: pixels
exist only inside a batch, batch memory is bounded by
``arrow.maxRecordsPerBatch`` x max image size, output is re-encoded
PNG bytes + refreshed (w, h, phash) so downstream operators (pHash
near-dup, tile binning) keep working on augmented rows unchanged.

Determinism: the op list is data-independent and every op is exact
integer/ndarray math — same input row, same output bytes, any executor,
any retry (speculative tasks stay safe).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..hexlib import image as im

def _apply_ops(px: np.ndarray, ops: tuple) -> np.ndarray:
    for op in ops:
        if op == "hflip":
            px = im.hflip(px)
        elif op == "vflip":
            px = im.vflip(px)
        elif op.startswith("rot90"):
            k = int(op.split(":", 1)[1]) if ":" in op else 1
            px = im.rot90(px, k)
        elif op.startswith("crop"):
            frac = float(op.split(":", 1)[1]) if ":" in op else 0.75
            px = im.center_crop(px, frac)
        elif op.startswith("brightness"):
            f = float(op.split(":", 1)[1]) if ":" in op else 1.1
            px = im.adjust_brightness(px, f)
        else:
            raise ValueError(f"unknown augment op {op!r}")
    return np.ascontiguousarray(px)


def augment_udf(ops: tuple | list = ("hflip", "crop:0.75")):
    """Struct UDF: decode -> apply ``ops`` in order -> re-encode PNG.

    Ops (parameter after ``:``): ``hflip``, ``vflip``, ``rot90:k``,
    ``crop:frac`` (center), ``brightness:factor``.
    """
    ops = tuple(ops)
    _apply_ops(np.zeros((4, 4, 3), np.uint8), ops)  # validate op names NOW

    schema = StructType(
        [
            StructField("bytes", BinaryType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("phash", LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        n = len(data)
        out_b = [None] * n
        out_w = np.zeros(n, np.int32)
        out_h = np.zeros(n, np.int32)
        out_p = np.zeros(n, np.int64)
        for idx, (b, f) in enumerate(zip(data.to_numpy(), fmt.to_numpy())):
            px = _apply_ops(im.decode_image(bytes(b), str(f)), ops)
            out_b[idx] = im.png_encode(px)
            out_h[idx], out_w[idx] = px.shape[:2]
            out_p[idx] = im.phash64(px)
        return pd.DataFrame(
            {"bytes": out_b, "w": out_w, "h": out_h, "phash": out_p}
        )

    return _udf


def augment_images(
    df: DataFrame, ops: tuple | list = ("hflip", "crop:0.75")
) -> DataFrame:
    """Augmented copy of an image table: same schema contract as the
    input_hint (bytes/w/h/fmt/phash refreshed, fmt becomes 'png'),
    ``aug_ops`` column records provenance. Narrow map — no shuffle."""
    aug = augment_udf(ops)
    keep = [c for c in df.columns if c not in ("bytes", "w", "h", "fmt", "phash")]
    return (
        df.withColumn("_a", aug(F.col("bytes"), F.col("fmt")))
        .select(
            *keep,
            F.col("_a.bytes").alias("bytes"),
            F.col("_a.w").alias("w"),
            F.col("_a.h").alias("h"),
            F.lit("png").alias("fmt"),
            F.col("_a.phash").alias("phash"),
            F.lit(",".join(ops)).alias("aug_ops"),
        )
    )


@F.pandas_udf(DoubleType())
def ssim_roundtrip(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """Perceptual self-degradation score: decode -> 2x area-downsample
    -> nearest-upsample -> SSIM vs original. Near 1.0 for smooth
    images, lower for detail-heavy ones; a quality feature for corpus
    filtering."""
    out = np.empty(len(data), dtype=np.float64)
    for idx, (b, f) in enumerate(zip(data.to_numpy(), fmt.to_numpy())):
        px = im.decode_image(bytes(b), str(f))
        h, w = px.shape[:2]
        if h < 2 or w < 2:
            out[idx] = 1.0
            continue
        small = (
            px[: h // 2 * 2, : w // 2 * 2]
            .reshape(h // 2, 2, w // 2, 2, 3)
            .mean(axis=(1, 3))
        )
        back = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
        back = np.clip(back, 0, 255).astype(np.uint8)
        out[idx] = im.ssim(px[: h // 2 * 2, : w // 2 * 2], back)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def ssim_pairs(
    a_bytes: pd.Series, a_fmt: pd.Series, b_bytes: pd.Series, b_fmt: pd.Series
) -> pd.Series:
    """Pairwise SSIM between two image columns (same dimensions
    required) — the verify stage for near-dup candidate pairs when a
    bit-level score (phash hamming) needs a perceptual confirmation."""
    out = np.empty(len(a_bytes), dtype=np.float64)
    for idx in range(len(a_bytes)):
        pa = im.decode_image(bytes(a_bytes.iloc[idx]), str(a_fmt.iloc[idx]))
        pb = im.decode_image(bytes(b_bytes.iloc[idx]), str(b_fmt.iloc[idx]))
        out[idx] = im.ssim(pa, pb)
    return pd.Series(out)
