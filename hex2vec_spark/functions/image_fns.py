"""Image-column functions: Arrow UDFs over the binary ``bytes`` column.

Pixels exist only inside UDF batches (never as a Spark column). Batch
memory is bounded by spark.sql.execution.arrow.maxRecordsPerBatch x the
max image size (input_hint / SURVEY.md §4 item 4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
)

from ..hexlib import image as im
from ..hexlib import h3core
from .h3_fns import DEFAULT_BBOX, DEFAULT_RES, geotag_np


@F.pandas_udf(
    StructType(
        [
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
            StructField("n_px", IntegerType()),
        ]
    )
)
def image_stats(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    """Cheap feature extraction over decoded pixels (per-batch loop is
    over *images*, with all pixel math vectorized inside each decode)."""
    n = len(data)
    mr = np.empty(n); mg = np.empty(n); mb = np.empty(n)
    npx = np.empty(n, dtype=np.int32)
    for idx, (b, f) in enumerate(zip(data.to_numpy(), fmt.to_numpy())):
        px = im.decode_image(bytes(b), str(f))
        m = px.reshape(-1, 3).mean(axis=0)
        mr[idx], mg[idx], mb[idx] = m
        npx[idx] = px.shape[0] * px.shape[1]
    return pd.DataFrame({"mean_r": mr, "mean_g": mg, "mean_b": mb, "n_px": npx})


def tile_hex_bins_udf(res: int = DEFAULT_RES, grid: int = 4, bbox=DEFAULT_BBOX):
    """Raster -> hexagon binning (north_star: 'image tile to hexagon
    binning'): split each image into grid x grid tiles, geotag each tile
    center by offsetting the image geotag by its tile offset scaled to
    one cell pitch, and return the array of H3 cells the tiles land in.

    The tile->geo convention is deterministic and shared with the pandas
    oracle; no reference counterpart (graft-only operator, F7).
    """

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        n = len(phash)
        lat, lng = geotag_np(phash.to_numpy(), bbox)
        # tile offsets in units of one hex pitch around the image geotag
        pitch_deg = np.degrees(h3core.EDGE_LENGTH_M[res] * np.sqrt(3.0) / 6_371_008.8)
        t = (np.arange(grid) - (grid - 1) / 2.0)  # centered offsets
        dy, dx = np.meshgrid(t, t, indexing="ij")
        tl = lat[:, None] + dy.ravel()[None, :] * pitch_deg
        tg = lng[:, None] + dx.ravel()[None, :] * pitch_deg
        cells = h3core.encode(tl.ravel(), tg.ravel(), res).view(np.int64).reshape(n, -1)
        return pd.Series([row.tolist() for row in cells])

    return _udf
