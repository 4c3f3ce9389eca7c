"""Spark-facing H3 functions: Arrow pandas UDFs over the hexlib kernels.

All Python compute is vectorized over Arrow batches (input_hint: no
per-row Python). H3 cells travel as LongType (the uint64 H3 index
reinterpreted — mode-1 cell indexes have bit 63 = 0, so the int64 view is
always positive); hex strings only at the presentation edge
(reference keeps string ids everywhere, e.g. make_dataset.py:120 — a
deliberate divergence for shuffle width).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType, StructField, StructType

from ..hexlib import h3core

DEFAULT_RES = 9
# the engine's active region bbox (FIXTURES.md: 2 deg x 3 deg, face-interior)
DEFAULT_BBOX = (40.0, 42.0, 14.0, 17.0)  # lat0, lat1, lng0, lng1


def geotag_np(phash: np.ndarray, bbox=DEFAULT_BBOX) -> tuple[np.ndarray, np.ndarray]:
    """Documented geotag convention (FIXTURES.md §1): the input table has
    no lat/lng column, so the geotag is a pure function of ``phash``:
    high 32 bits -> lat unit, low 32 bits -> lng unit, mapped into the
    active region bbox. Engine and oracles share this single function.
    """
    u = phash.astype(np.int64).view(np.uint64)
    lat_unit = ((u >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    lng_unit = (u & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    lat0, lat1, lng0, lng1 = bbox
    return lat0 + lat_unit * (lat1 - lat0), lng0 + lng_unit * (lng1 - lng0)


def h3_from_phash_np(phash: np.ndarray, res: int = DEFAULT_RES, bbox=DEFAULT_BBOX) -> np.ndarray:
    lat, lng = geotag_np(phash, bbox)
    return h3core.encode(lat, lng, res).view(np.int64)


def h3_from_phash_res(res: int, bbox=DEFAULT_BBOX):
    @F.pandas_udf(LongType())
    def _udf(phash: pd.Series) -> pd.Series:
        return pd.Series(h3_from_phash_np(phash.to_numpy(), res, bbox))

    return _udf


@F.pandas_udf(
    StructType([StructField("lat", DoubleType()), StructField("lng", DoubleType())])
)
def geotag(phash: pd.Series) -> pd.DataFrame:
    lat, lng = geotag_np(phash.to_numpy())
    return pd.DataFrame({"lat": lat, "lng": lng})


def h3_encode_udf(res: int = DEFAULT_RES):
    @F.pandas_udf(LongType())
    def _udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
        return pd.Series(h3core.encode(lat.to_numpy(), lng.to_numpy(), res).view(np.int64))

    return _udf


def h3_kring_udf(k: int = 1, include_self: bool = True):
    """cell -> array<long> of cells within grid distance k (h3.k_ring,
    h3_neighbor_dataset.py:22,28). Vectorized kring over the whole batch,
    then split into per-row lists."""

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(h: pd.Series) -> pd.Series:
        cells = h.to_numpy().view(np.uint64)
        src, ring = h3core.kring_flat(cells, k)
        if not include_self:
            keep = ring != cells[src]
            src, ring = src[keep], ring[keep]
        ring = ring.view(np.int64)
        counts = np.bincount(src, minlength=len(cells))
        splits = np.split(ring, np.cumsum(counts)[:-1])
        return pd.Series([s.tolist() for s in splits])

    return _udf


def h3_cover_udf(res: int = DEFAULT_RES):
    """(ring_lat, ring_lng, holes_lat, holes_lng) polygon -> array<long>
    of every res-``res`` cell the polygon (exterior minus holes)
    *intersects* (gpd.sjoin predicate='intersects' semantics for polygon
    objects, make_dataset.py:96-99). Whole Arrow batch covered in ONE
    vectorized pass (h3core.cover_intersect_batch: flattened candidate
    grids -> one encode -> pairwise intersect refine) — the per-polygon
    loop it replaces measured ~580 polys/s/core of pure Python overhead;
    batched runs ~10x that (J1b scale path). Cells a hole fully swallows
    (hexlib.geom.hexes_inside_ring — all vertices inside + no edge
    crossing) are then subtracted per polygon; cells crossing a hole
    boundary still intersect the polygon. Hole columns are
    ``array<array<double>>``; null -> hole-free."""
    from ..hexlib import geom

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(
        ring_lat: pd.Series, ring_lng: pd.Series,
        holes_lat: pd.Series, holes_lng: pd.Series,
    ) -> pd.Series:
        if not len(ring_lat):  # np.split on empty yields ONE empty slice
            return pd.Series([], dtype=object)
        poly_idx, cells = h3core.cover_intersect_batch(
            ring_lat.to_list(), ring_lng.to_list(), res, pad_cells=1.0
        )
        counts = np.bincount(poly_idx, minlength=len(ring_lat))
        splits = np.split(cells, np.cumsum(counts)[:-1])
        out = []
        for cs, hl, hg in zip(splits, holes_lat.to_list(), holes_lng.to_list()):
            if hl is not None and hg is not None and len(hl) and len(cs):
                verts = h3core.cell_boundary(cs)
                keep = np.ones(len(cs), dtype=bool)
                for a, b in zip(hl, hg):
                    keep &= ~geom.hexes_inside_ring(
                        verts[:, :, 0], verts[:, :, 1],
                        np.asarray(a, dtype=np.float64),
                        np.asarray(b, dtype=np.float64),
                    )
                cs = cs[keep]
            out.append(cs.view(np.int64).tolist())
        return pd.Series(out)

    return _udf


@F.pandas_udf(StringType())
def h3_to_str(h: pd.Series) -> pd.Series:
    return pd.Series(h3core.h3_to_string(h.to_numpy().view(np.uint64)))


@F.pandas_udf(DoubleType())
def h3_area_m2(h: pd.Series) -> pd.Series:
    """cell -> spherical area in m^2 (hexlib.h3core.cell_area_m2,
    L'Huilier excess over the 6-triangle center fan)."""
    return pd.Series(h3core.cell_area_m2(h.to_numpy().view(np.uint64)))


@F.pandas_udf(ArrayType(LongType()))
def h3_path(a: pd.Series, b: pd.Series) -> pd.Series:
    """(start_cell, end_cell) -> array<long> path of cells (h3.h3_line
    analog; hexlib.h3core.grid_path — greedy geodesic walk, every
    consecutive pair adjacent, endpoints inclusive). Whole Arrow batch
    walks in lockstep."""
    paths = h3core.grid_path(a.to_numpy().view(np.uint64), b.to_numpy().view(np.uint64))
    return pd.Series([p.view(np.int64).tolist() for p in paths])


@F.pandas_udf(
    StructType([StructField("lat", DoubleType()), StructField("lng", DoubleType())])
)
def h3_center(h: pd.Series) -> pd.DataFrame:
    lat, lng = h3core.cell_center(h.to_numpy().view(np.uint64))
    return pd.DataFrame({"lat": lat, "lng": lng})
