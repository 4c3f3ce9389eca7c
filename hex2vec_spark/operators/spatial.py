"""Spatial operators: tiling (J2), H3-equi spatial join (J1), strict PIP.

The reference's core operator is ``gpd.sjoin(objects, hex_polygons,
predicate='intersects')`` (make_dataset.py:96-99) driven by a buffered
polyfill tiling (make_dataset.py:26-58). Here the spatial join is
re-expressed as an **equi-join on H3 cell id** (SURVEY.md J1): points get
their cell from ``assign_h3`` (a JVM expression chain on face-interior
bboxes, a vectorized Arrow UDF elsewhere) and join the (broadcast) tiling
dimension — no R-tree, no geometric test in the hot path, no shuffle of
the fact table at all for per-region tilings.

Scale notes:
  * tiling is a dimension (10^3-10^6 cells/region) -> built once,
    broadcast; the 10^12-row fact side is never shuffled for the join.
  * hot geotag cells skew *groups*, not this join (broadcast hash join
    has no key-based partitioning); aggregation skew is bounded by the
    map-side partial aggregate of operators/agg.salted_count, which
    ships a hot cell as at most one row per map task.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hexlib import geom, h3core
from ..functions import h3_expr
from ..functions.h3_fns import DEFAULT_BBOX, DEFAULT_RES, h3_from_phash_res
from ..plans.session import session_cached


def _row_holes(row) -> list[tuple[np.ndarray, np.ndarray]]:
    """Interior rings of a regions-frame row: zipped float64 arrays from
    the optional ``holes_lat``/``holes_lng`` entries (absent, None, or
    empty -> no holes)."""
    hl = row.get("holes_lat") if hasattr(row, "get") else None
    hg = row.get("holes_lng") if hasattr(row, "get") else None
    # a frame mixing holed and hole-free rows carries NaN for the latter
    if hl is None or hg is None or (np.isscalar(hl) and pd.isna(hl)) or len(hl) == 0:
        return []
    if len(hl) != len(hg):
        raise ValueError("holes_lat and holes_lng must have the same ring count")
    return [
        (np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64))
        for a, b in zip(hl, hg)
    ]


def build_tiling(regions_pdf: pd.DataFrame, res: int = DEFAULT_RES, buffer_k: int = 2) -> pd.DataFrame:
    """Hex tiling of each region: all res-``res`` cells intersecting the
    region polygon(s).

    Reference semantics (get_hexes_for_place, make_dataset.py:26-58):
    buffer the polygon by 2x hex edge, polyfill (centers-contained), then
    keep hexes that *intersect* the original polygon. The metric buffer +
    polyfill is replaced by the grid-native equivalent: polyfill then
    k-ring expand by ``buffer_k`` (cells whose center is within 2 edges
    of the polygon), then an exact hex-vs-polygon intersects refine.

    Returns pandas (region_id, h3:int64) — a dimension table, built
    driver-side and broadcast (SURVEY.md J2: tiny side always broadcast).

    Interior rings (round 5): rows may carry ``holes_lat``/``holes_lng``
    — a list of rings, each a list of floats — and a cell is then kept
    iff it intersects (exterior minus holes): the exterior intersects
    test as before, minus cells a hole fully swallows
    (geom.hexes_inside_ring; cells crossing a hole boundary still
    intersect the polygon). This matches the reference's sjoin on
    shapely polygons with interiors (make_dataset.py:96-99).
    """
    # Per-region scalar covers, NOT cover_intersect_batch: the batch
    # path's pair bookkeeping (composite-key dedupe, per-pair gathers)
    # pays off for MANY SMALL polygons sharing lattice regions; for a
    # handful of region-sized polygons it measured 4x SLOWER than this
    # loop for identical output (res 9: 23s vs 5s). Same candidate
    # enumerator + exact intersects-refine either way, so the refined
    # set equals the reference's buffer+polyfill+sjoin exactly.
    out = []
    for _, row in regions_pdf.iterrows():
        ring_lat = np.asarray(row["ring_lat"], dtype=np.float64)
        ring_lng = np.asarray(row["ring_lng"], dtype=np.float64)
        cand = h3core.cells_covering_bbox(ring_lat, ring_lng, res, pad_cells=buffer_k)
        verts = h3core.cell_boundary(cand)  # (n, 6, 2)
        hit = geom.polygons_intersect_hexes(verts[:, :, 0], verts[:, :, 1], ring_lat, ring_lng)
        for hla, hlg in _row_holes(row):
            inhole = np.zeros_like(hit)
            inhole[hit] = geom.hexes_inside_ring(
                verts[hit, :, 0], verts[hit, :, 1], hla, hlg
            )
            hit &= ~inhole
        cells = cand[hit]
        out.append(pd.DataFrame({"region_id": row["region_id"], "h3": cells.view(np.int64)}))
    tiling = pd.concat(out, ignore_index=True)
    # MultiPolygon parts may overlap in cells: dedupe per (region, cell)
    return tiling.drop_duplicates(["region_id", "h3"]).reset_index(drop=True)


def write_tiling_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write the tiling dimension as parquet directly via pyarrow —
    ``spark.createDataFrame`` embeds a local relation in the plan and the
    driver->JVM serialization of ~50k rows is erratic in this sandbox
    (measured 2s-70s on the first action against it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf[["region_id", "h3"]], preserve_index=False),
        os.path.join(path, "part-0.parquet"),
    )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def regions_content_key(regions_pdf: pd.DataFrame) -> str:
    """Content hash of a regions frame — cache paths are keyed by it so a
    changed polygon set can never silently reuse a stale tiling."""
    import hashlib

    h = hashlib.md5()
    for _, row in regions_pdf.iterrows():
        h.update(str(row["region_id"]).encode())
        h.update(np.asarray(row["ring_lat"], dtype=np.float64).tobytes())
        h.update(np.asarray(row["ring_lng"], dtype=np.float64).tobytes())
        for hla, hlg in _row_holes(row):
            h.update(b"hole")
            h.update(hla.tobytes())
            h.update(hlg.tobytes())
    return h.hexdigest()[:10]


def tiling_table(
    spark,
    res: int = DEFAULT_RES,
    base_dir: str = "/tmp",
    regions_pdf: pd.DataFrame | None = None,
    path: str | None = None,
) -> DataFrame:
    """The tiling dimension as a parquet-backed DataFrame (default
    synthetic regions unless ``regions_pdf`` given). The cache path is
    content-addressed by (res, regions hash) — a marker file alone would
    let a changed res or polygon set reuse a stale tiling. Scanning
    parquet keeps every broadcast build JVM-only and stable; at cluster
    scale the tiling would live as a table anyway.

    The polyfill (~1 s at res 8, ~8 s at res 9) runs once per session
    and content key (plans.session.session_cached): writing the same
    regions into another path reuses it, as the reference reuses its
    GeoJSON tiling cache (make_dataset.py:84-93)."""
    from ..sources.synth import regions_pandas

    if regions_pdf is None:
        regions_pdf = regions_pandas()
    if path is None:
        path = os.path.join(
            base_dir, f"hextiling_res{res}_{regions_content_key(regions_pdf)}"
        )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        key = ("tiling", res, regions_content_key(regions_pdf))
        write_tiling_parquet(
            session_cached(spark, key, lambda: build_tiling(regions_pdf, res=res)), path
        )
    return spark.read.parquet(path)


def assign_h3(
    images: DataFrame,
    res: int = DEFAULT_RES,
    bbox: tuple[float, float, float, float] = DEFAULT_BBOX,
) -> DataFrame:
    """Add the H3 cell column from the geotag convention (J1a: points
    need no geometric test — h3_encode *is* the spatial join key).

    One strategy per bbox class, same bits out:

    * **JVM expression path** when ``h3_expr.supports_bbox(bbox, res)``
      holds, i.e. the bbox is face-interior — the natural shape of a
      per-city job like the reference's, make_dataset.py:96-99: the
      whole encode is emitted as Catalyst expressions
      (functions/h3_expr), runs inside whole-stage codegen with NO
      Python workers, and is bit-identical to the Arrow kernel
      (tests/test_jvm_encode.py). This is what makes the flagship scale
      local[8]->local[32]: the Arrow path pays a JVM task thread + a
      Python worker per task (~2x runnable threads vs cores).
    * **Arrow-UDF kernel** for every other bbox (global data, seam
      regions), batch or stream: the NumPy icosahedron kernel. The UDF
      is wrapped in coalesce(.., -1): a nullable Python-UDF join key
      makes Catalyst extract the UDF TWICE (IsNotNull filter + key
      projection — two ArrowEvalPython nodes, measured 27% slower on the
      6M-row flagship); coalesce folds the null check away so the UDF
      runs once. The kernel never returns null, so -1 never
      materializes.

    The JVM plan is cached per session (plans.session.session_cached)
    under the source plan's semantic hash, the hash of its input file
    names, ``res`` and ``bbox``: several queries over the same scan (the
    bench's hex_features + context_pairs, any multi-query pipeline) pay
    the chain's plan construction once. Part-file names are unique per
    write, so a rewritten source directory gets a new plan over its new
    files. Only the lazy plan is cached, never data. The Arrow column
    builds in ~0.02 s and is not cached.
    """
    if not h3_expr.supports_bbox(bbox, res):
        return images.withColumn(
            "h3", F.coalesce(h3_from_phash_res(res, bbox)(F.col("phash")), F.lit(-1))
        )
    try:
        # the input file names are in the key: keyed on the semantic
        # hash alone, a rewritten stage dir (same path, new part files)
        # got the old plan and its stale file index (observed
        # FAILED_READ_FILE)
        key = (
            "encode",
            images._jdf.queryExecution().analyzed().semanticHash(),
            hash(tuple(sorted(images.inputFiles()))),
            res, bbox,
        )
    except Exception:  # non-classic DataFrame: nothing to key on
        return h3_expr.attach_h3_from_phash_jvm(images, res, bbox)
    return session_cached(
        images.sparkSession, key,
        lambda: h3_expr.attach_h3_from_phash_jvm(images, res, bbox),
    )


def spatial_join(
    images: DataFrame,
    tiling_sdf: DataFrame,
    res: int = DEFAULT_RES,
    how: str = "inner",
) -> DataFrame:
    """The core spatial join: images x region tiling -> (image_id, h3,
    region_id, caption...). Equi-join on cell id with the tiling
    broadcast; replaces gpd.sjoin + R-tree (make_dataset.py:96-99).

    Matches reference row semantics exactly: an object is kept iff its
    cell is in the tiling (the reference keeps objects intersecting any
    tiling hex — cell-level membership, no point-level PIP).
    """
    with_h3 = assign_h3(images, res)
    return with_h3.join(F.broadcast(tiling_sdf), "h3", how)


def polygon_spatial_join(
    objects: DataFrame,
    tiling_sdf: DataFrame,
    res: int = DEFAULT_RES,
    how: str = "inner",
) -> DataFrame:
    """J1(b): polygon objects x region tiling. Each object polygon is
    covered to the cells it intersects (Arrow UDF, same kernels as the
    tiling build), exploded, and equi-joined against the broadcast tiling
    — one output row per (object, cell, region), exactly the reference's
    sjoin(objects, hexes, predicate='intersects') row set
    (make_dataset.py:96-99 for ways/relations geometries).

    No geometric test in the join itself; the polygon work happens once
    per object on the fact side (map-side, no shuffle), so the shape
    scales like the point path.

    Interior rings (round 5): objects carrying ``holes_lat``/
    ``holes_lng`` (``array<array<double>>``) cover to cells
    intersecting (exterior minus holes) — hole-swallowed cells drop,
    boundary-crossing cells stay (h3_cover_udf); objects without them
    pass typed null rings."""
    from ..functions.h3_fns import h3_cover_udf

    has_holes = "holes_lat" in objects.columns and "holes_lng" in objects.columns
    null_rings = F.lit(None).cast("array<array<double>>")
    cover_col = h3_cover_udf(res)(
        F.col("ring_lat"), F.col("ring_lng"),
        F.col("holes_lat") if has_holes else null_rings,
        F.col("holes_lng") if has_holes else null_rings,
    )
    cover = objects.withColumn("h3", F.explode(cover_col))
    return cover.join(F.broadcast(tiling_sdf), "h3", how)


def strict_region_assign(
    joined: DataFrame, regions_pdf: pd.DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Optional strict point-in-polygon refine (north_star's PIP
    assignment): keeps only rows whose geotag point is inside the region
    polygon itself (not just inside an intersecting boundary hex).

    Interior rings (round 5): region rows may carry ``holes_lat``/
    ``holes_lng`` (list of rings) — a point inside a hole is NOT in the
    region part (even-odd over exterior + holes); MultiPolygon parts
    (several rows per region) keep union semantics.

    Round-5 physical strategy: PURE JVM — the region parts collapse to
    one broadcast row per region (array of ring structs), the geotag
    decodes from phash with the exact integer/double SQL convention
    (h3_expr._phash_latlng_sql, bit-identical to geotag_np), and the
    ray cast is the Catalyst expression twin of the NumPy kernel
    (functions/geo_expr — bit-identical predicates, pinned). The old
    Arrow pandas-UDF PIP is gone: no Python worker beside any task of
    the strict refine (plan-pinned in test_plans)."""
    from ..functions.geo_expr import point_in_polygon_with_holes_expr

    rows = []
    for _, row in regions_pdf.iterrows():
        holes = _row_holes(row)
        rows.append((
            str(row["region_id"]),
            [float(x) for x in row["ring_lat"]],
            [float(x) for x in row["ring_lng"]],
            [[float(x) for x in a] for a, _ in holes] if holes else None,
            [[float(x) for x in b] for _, b in holes] if holes else None,
        ))
    # round 6: pandas frame -> Arrow createDataFrame (a raw row list
    # parallelizes into defaultParallelism pickled-Python RDD slices —
    # ~32 Python-worker tasks for a 10-row dimension; see the
    # pip_join_holes fixture note in __spark_entry__)
    parts = (
        joined.sparkSession.createDataFrame(
            pd.DataFrame(
                rows, columns=["region_id", "_rla", "_rlg", "_hla", "_hlg"]
            ),
            schema="region_id string, _rla array<double>, _rlg array<double>, "
                   "_hla array<array<double>>, _hlg array<array<double>>",
        )
        .groupBy("region_id")
        .agg(F.collect_list(F.struct("_rla", "_rlg", "_hla", "_hlg")).alias("_parts"))
    )
    lat_sql, lng_sql = h3_expr._phash_latlng_sql(DEFAULT_BBOX)
    lat, lng = F.expr(lat_sql), F.expr(lng_sql)
    inside_any = F.exists(
        F.col("_parts"),
        lambda p: point_in_polygon_with_holes_expr(
            lat, lng, p["_rla"], p["_rlg"], p["_hla"], p["_hlg"]
        ),
    )
    return (
        joined.join(F.broadcast(parts), "region_id", "inner")
        .where(inside_any)
        .drop("_parts")
    )
