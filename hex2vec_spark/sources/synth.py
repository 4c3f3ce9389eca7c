"""Deterministic synthetic input tables (FIXTURES.md §1-§2).

The images table is generated *distributed* (mapInPandas over
spark.range) so the bench can build millions of rows without a
driver-side bottleneck; every value is a pure function of the row id
``i`` (counter-based mixing, no stateful rng), so any two runs — and the
pandas oracle — produce byte-identical tables regardless of
partitioning or batch boundaries.

Generation is batch-vectorized: rows are grouped by their (w, h) shape
cycle, pixel noise is a splitmix-style hash of (id, y, x, channel), and
pHash runs as batched DCT over the whole shape group. Only the PNG
deflate call remains per-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..hexlib import image as im
from ..functions.h3_fns import DEFAULT_BBOX

VOCAB = [
    "castle", "river", "cafe", "museum", "bridge", "park", "station", "tower",
    "market", "harbor", "forest", "beach", "temple", "cinema", "school", "library",
    "bakery", "fountain", "garden", "windmill", "street", "plaza", "gallery", "arch",
    "canal", "chapel", "farm", "quay", "ruins", "spire", "vineyard", "wall",
    "gate", "mill", "dock", "barn", "shrine", "well", "yard", "lighthouse",
]

W_CYCLE = [16, 32, 64]
H_CYCLE = [16, 32, 48]

# three Zipfian hot cells (FIXTURES: ~20% of rows collapse here for skew
# realism); values are (lat_unit, lng_unit) high-bit prefixes.
# NOTE: the REALIZED split among hot rows is 60/25/15, not these nominal
# thresholds — the hot selector (ids*2654435761 % 100) and the weight
# selector (ids*40503 % 100) are correlated affine maps of the id, so
# only 20 residues reach the weight test. The values below are FROZEN
# thresholds of the deterministic generator, not exact frequencies;
# nothing downstream asserts the exact ratio (skew tests assert the top
# cell holds > 10% of rows, which holds either way).
HOT_UNITS = [(0.31543, 0.42881), (0.58203, 0.61426), (0.74219, 0.23145)]
HOT_WEIGHTS = [0.60, 0.28, 0.12]
HOT_FRACTION = 0.20

# bump when any generator math changes: parquet caches of the synthetic
# table are keyed by (version, row count) so a code change can never
# silently serve stale cached rows.
# v2: clamped resize bins in _phash_batch (16x16 phash no longer hashes
# zero-striped upsamples; 32/48/64 shapes unchanged)
GEN_VERSION = 2

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

_U = np.uint64


from ..hexlib.hexmath import splitmix64 as _mix  # shared mixer (one definition)


def _noise(ids: np.ndarray, h: int, w: int) -> np.ndarray:
    """(k, h, w, 3) uint8 noise in [0, 32) — pure function of (id, y, x, c)."""
    k = len(ids)
    pos = (np.arange(h * w * 3, dtype=np.uint64) * _U(0x9E3779B97F4A7C15))
    v = _mix(ids.astype(np.uint64)[:, None] * _U(0xD1B54A32D192ED03) ^ pos[None, :])
    return (v & _U(31)).astype(np.uint8).reshape(k, h, w, 3)


def _base_pattern(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            255 * xx / max(w - 1, 1),
            255 * yy / max(h - 1, 1),
            (xx + yy) * 255 / max(w + h - 2, 1),
        ],
        axis=-1,
    )


def _pixels_for(ids: np.ndarray, h: int, w: int) -> np.ndarray:
    base = _base_pattern(h, w)[None, :, :, :]
    return np.clip(base + _noise(ids, h, w), 0, 255).astype(np.uint8)


def _phash_batch(px: np.ndarray) -> np.ndarray:
    """Batched DCT pHash, bit-identical to hexlib.image.phash64 per row
    (same clamped bin edges as image._resize_mean: upscale replicates
    the nearest pixel — matters for the 16x16 shape class)."""
    k, h, w, _ = px.shape
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    lo_y = (np.arange(32) * h) // 32
    hi_y = np.maximum((np.arange(1, 33) * h) // 32, lo_y + 1)
    lo_x = (np.arange(32) * w) // 32
    hi_x = np.maximum((np.arange(1, 33) * w) // 32, lo_x + 1)
    csum = np.zeros((k, h + 1, w + 1))
    csum[:, 1:, 1:] = gray.cumsum(1).cumsum(2)
    out = (
        csum[:, hi_y, :][:, :, hi_x]
        - csum[:, lo_y, :][:, :, hi_x]
        - csum[:, hi_y, :][:, :, lo_x]
        + csum[:, lo_y, :][:, :, lo_x]
    )
    area = (hi_y - lo_y)[:, None] * (hi_x - lo_x)[None, :]
    small = out / area
    D = im._DCT32
    d = np.matmul(np.matmul(D[None, :, :], small), D.T[None, :, :])
    block = d[:, :8, :8].reshape(k, 64)
    med = np.median(block[:, 1:], axis=1)
    bits = (block > med[:, None]).astype(np.uint64)
    weights = _U(1) << np.arange(63, -1, -1, dtype=np.uint64)
    return (bits * weights[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)


def _hot_phash(ids: np.ndarray) -> np.ndarray:
    """Rewritten phash for hot rows: geotag collapses into 3 Zipfian
    cells with deterministic sub-cell jitter in the low 15 bits."""
    r = (ids * 40503 % 100) / 100.0
    hot = np.where(r < HOT_WEIGHTS[0], 0, np.where(r < HOT_WEIGHTS[0] + HOT_WEIGHTS[1], 1, 2))
    units = np.array(HOT_UNITS)
    hi_base = (units[hot, 0] * 2**32).astype(np.uint64) & _U(0xFFFF8000)
    lo_base = (units[hot, 1] * 2**32).astype(np.uint64) & _U(0xFFFF8000)
    j1 = _mix(ids.astype(np.uint64) ^ _U(0xA5A5A5A5)) & _U(0x7FFF)
    j2 = _mix(ids.astype(np.uint64) ^ _U(0x5A5A5A5A)) & _U(0x7FFF)
    return (((hi_base | j1) << _U(32)) | (lo_base | j2)).astype(np.int64)


def _captions(ids: np.ndarray) -> list[str]:
    n_tok = 2 + (ids % 5)
    tok_idx = np.stack(
        [(_mix(ids.astype(np.uint64) ^ _U(t * 0x9E3779B9 + 1)) % _U(len(VOCAB))).astype(np.int64)
         for t in range(6)],
        axis=1,
    )
    vocab = np.array(VOCAB)
    return [";".join(vocab[tok_idx[r, : n_tok[r]]]) for r in range(len(ids))]


_CHUNK = 1024  # keep float64 DCT intermediates ~100 MB per chunk


def images_pandas_ids(ids: np.ndarray) -> pd.DataFrame:
    """Batch generation for arbitrary id arrays (the single source of
    truth shared by the Spark generator and the pandas oracle)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    w_arr = np.array(W_CYCLE)[ids % 3].astype(np.int32)
    h_arr = np.array(H_CYCLE)[ids % 3].astype(np.int32)
    fmt = np.where(ids % 4 == 0, "png", "ppm")
    phash = np.zeros(n, dtype=np.int64)
    data: list[bytes] = [b""] * n
    for shape_mod in range(3):
        m = ids % 3 == shape_mod
        if not m.any():
            continue
        rows_all = np.where(m)[0]
        h, w = H_CYCLE[shape_mod], W_CYCLE[shape_mod]
        for c0 in range(0, len(rows_all), _CHUNK):
            rows = rows_all[c0 : c0 + _CHUNK]
            px = _pixels_for(ids[rows], h, w)
            phash[rows] = _phash_batch(px)
            for local, ridx in enumerate(rows):
                if fmt[ridx] == "png":
                    data[ridx] = im.png_encode(px[local], level=1)
                else:
                    data[ridx] = im.ppm_encode(px[local])
    hot = (ids * 2654435761 % 100) < int(HOT_FRACTION * 100)
    if hot.any():
        phash[hot] = _hot_phash(ids[hot])
    return pd.DataFrame(
        {
            "image_id": [f"img{i:010d}" for i in ids],
            "bytes": data,
            "w": w_arr,
            "h": h_arr,
            "fmt": fmt,
            "caption": _captions(ids),
            "phash": phash,
        }
    )


def images_pandas(n: int, start: int = 0) -> pd.DataFrame:
    return images_pandas_ids(np.arange(start, start + n, dtype=np.int64))


def images_table(spark, n: int, num_partitions: int | None = None):
    """Distributed deterministic generation of the input table."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield images_pandas_ids(pdf["id"].to_numpy())

    return (
        spark.range(0, n, numPartitions=num_partitions)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


def images_cache_path(n: int, base_dir: str = "/tmp") -> str:
    """THE cache path for the synthetic table at ``n`` rows — keyed by
    generator version so a math change can never serve stale rows. All
    consumers (queries, bench, scaling) must use this one function."""
    import os

    suffix = "" if GEN_VERSION == 1 else f"_v{GEN_VERSION}"
    return os.path.join(base_dir, f"hexscale_cache_{n}{suffix}")


def images_table_cached(spark, n: int, base_dir: str = "/tmp"):
    """Parquet-backed images table at the versioned cache path. A
    mapInPandas source regenerates — including the PNG deflate — on
    every action and blocks column pruning; a parquet scan is generated
    once and prunes. The lazy scan is reused per session
    (plans.session.session_cached): the cache dir never changes once
    written, and re-reading its footer costs ~0.07 s per query build."""
    import os

    from ..plans.session import session_cached

    path = images_cache_path(n, base_dir)

    def scan():
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            images_table(spark, n).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return session_cached(spark, ("images", path), scan)


# --------------------------------------------------------- polygon objects

def _geotag_units_for_ids(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (lat, lng) for object ids — the same hot-cell mixing
    as the images table's phash geotag, but without generating pixels
    (objects carry geometry, not bytes)."""
    from ..functions.h3_fns import DEFAULT_BBOX

    u1 = _mix(ids.astype(np.uint64) ^ _U(0x0B7EC7))
    u2 = _mix(ids.astype(np.uint64) ^ _U(0x9EA7A6))
    lat_unit = (u1 & _U(0xFFFFFFFF)).astype(np.float64) / 2**32
    lng_unit = (u2 & _U(0xFFFFFFFF)).astype(np.float64) / 2**32
    hot = (ids * 2654435761 % 100) < int(HOT_FRACTION * 100)
    if hot.any():
        r = (ids[hot] * 40503 % 100) / 100.0
        which = np.where(r < HOT_WEIGHTS[0], 0, np.where(r < HOT_WEIGHTS[0] + HOT_WEIGHTS[1], 1, 2))
        units = np.array(HOT_UNITS)
        lat_unit[hot] = units[which, 0]
        lng_unit[hot] = units[which, 1]
    lat0, lat1, lng0, lng1 = DEFAULT_BBOX
    return lat0 + lat_unit * (lat1 - lat0), lng0 + lng_unit * (lng1 - lng0)


def polygon_objects_pandas_ids(ids: np.ndarray, res_hint: int = 8) -> pd.DataFrame:
    """Deterministic polygon objects (the reference's way/relation
    geometries): a jittered quad around a deterministic center point,
    sized 0.5-3 cell widths at ``res_hint`` so most objects span 1-10
    cells. Pure function of the row id (images-table convention)."""
    from ..hexlib.h3core import EDGE_LENGTH_M

    ids = np.asarray(ids, dtype=np.int64)
    clat, clng = _geotag_units_for_ids(ids)
    cell_deg = np.degrees(EDGE_LENGTH_M[res_hint] * np.sqrt(3.0) / 6_371_008.8)
    half = cell_deg * (0.25 + 1.25 * ((_mix(ids.astype(np.uint64)) & _U(0xFF)).astype(np.float64) / 255.0))
    sq = (_mix(ids.astype(np.uint64) ^ _U(0xBEEF)) & _U(0xFF)).astype(np.float64) / 255.0
    hx = half
    hy = half * (0.6 + 0.8 * sq)  # aspect jitter
    return pd.DataFrame(
        {
            "obj_id": [f"obj{i:08d}" for i in ids],
            "ring_lat": [[a - dy, a - dy, a + dy, a + dy] for a, dy in zip(clat, hy)],
            "ring_lng": [[b - dx, b + dx, b + dx, b - dx] for b, dx in zip(clng, hx)],
        }
    )


def polygon_objects_pandas(n: int, res_hint: int = 8) -> pd.DataFrame:
    return polygon_objects_pandas_ids(np.arange(n, dtype=np.int64), res_hint)


POLY_SCHEMA = "obj_id string, ring_lat array<double>, ring_lng array<double>"


def polygon_objects_table(spark, n: int, num_partitions: int | None = None):
    """Distributed deterministic polygon-object generation.

    Partition count is derived from the INPUT SIZE, floored at ~100 rows
    per Python batch (guide §2: scale-adaptive partitioning, not a core
    constant): spreading 800 rows over 32 one-row-deep mapInPandas tasks
    measured 0.34 s of pure JVM<->Python round-trip overhead vs 0.16 s
    at 8 partitions; large n still fans out to every core."""
    num_partitions = num_partitions or max(
        1, min(spark.sparkContext.defaultParallelism, n // 100)
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield polygon_objects_pandas_ids(pdf["id"].to_numpy())

    return spark.range(0, n, numPartitions=num_partitions).mapInPandas(gen, schema=POLY_SCHEMA)


# ------------------------------------------------------------------ regions

def regions_pandas(bbox=DEFAULT_BBOX) -> pd.DataFrame:
    """10 deterministic region polygons tiling the bbox (FIXTURES.md §2):
    a 2 x 5 grid of jittered convex quads; region r09 is a MultiPolygon
    (two rings / two rows) to exercise the explode path
    (make_dataset.py:88-89)."""
    lat0, lat1, lng0, lng1 = bbox
    rng = np.random.default_rng(42)
    rows = []
    n_lat, n_lng = 2, 5
    dlat = (lat1 - lat0) / n_lat
    dlng = (lng1 - lng0) / n_lng
    rid = 0
    for a in range(n_lat):
        for b in range(n_lng):
            la, lb = lat0 + a * dlat, lng0 + b * dlng
            jit = lambda: float(rng.uniform(0.02, 0.10))
            ring_lat = [la + jit() * dlat, la + jit() * dlat,
                        la + dlat - jit() * dlat, la + dlat - jit() * dlat]
            ring_lng = [lb + jit() * dlng, lb + dlng - jit() * dlng,
                        lb + dlng - jit() * dlng, lb + jit() * dlng]
            if rid == 9:  # multipolygon: split into two disjoint rings
                mid = lb + dlng / 2
                rows.append({"region_id": "r09", "part": 0,
                             "ring_lat": ring_lat, "ring_lng": [ring_lng[0], mid - 0.02 * dlng, mid - 0.02 * dlng, ring_lng[3]]})
                rows.append({"region_id": "r09", "part": 1,
                             "ring_lat": ring_lat, "ring_lng": [mid + 0.02 * dlng, ring_lng[1], ring_lng[2], mid + 0.02 * dlng]})
            else:
                rows.append({"region_id": f"r{rid:02d}", "part": 0,
                             "ring_lat": ring_lat, "ring_lng": ring_lng})
            rid += 1
    return pd.DataFrame(rows)
