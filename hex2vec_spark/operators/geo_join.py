"""Distance-radius spatial join: all (left, right) point pairs within
``radius_m`` meters — the geo join the reference performs implicitly when
it buffers geometries before ``gpd.sjoin`` (make_dataset.py:26-58 buffers
by a metric distance, then joins on intersection).

Re-expressed for Spark as a **latitude-band grid join** rather than an
R-tree or a crossJoin:

  1. Both sides are bucketed into a deterministic (band, lng_idx) grid.
     Band height is the exact meridian arc of ``radius_m`` on the
     haversine sphere, so matching points differ by <= 1 band.  Each
     band gets its own longitude bucket count, derived from the
     haversine inequality  sin(d/2R) >= cos(lat1)cos(lat2) sin(dLng/2)
     evaluated at the band's worst-case latitude — so matching points
     differ by <= 1 longitude index *in either band's width*.
  2. The left side explodes to its 3x3 (band +-1, idx +-1) candidate
     buckets (9 keys, deduped; longitude indexes wrap modulo the band's
     bucket count, so the antimeridian needs no special case; a band
     whose buckets would exceed 180 degrees collapses to n=1 and the
     pole caps become single buckets).
  3. One equi-join on the bucket key — right rows sit in their home
     bucket only, so every qualifying pair is produced exactly once
     (array_distinct removes the only duplicate source, wrapped
     candidate keys in tiny bands).
  4. An exact haversine filter (pure JVM trig — no UDF anywhere in the
     operator) keeps pairs with dist_m <= radius_m.

Why not H3 buckets: this engine's k-ring is a face-local lattice
operation (SURVEY.md §1.4 scope statement) — two points straddling an
icosahedron seam can land in cells whose *lattice* distance is
unbounded even though their geodesic distance is tiny, so an
H3-ring-expansion join cannot promise recall 1 globally.  The band grid
carries a closed-form guarantee instead.  For bbox-scoped tables that
already carry an attached cell column, the equivalent co-located join
is ``spatial.spatial_join`` (equi on cell) — a *containment* join, not
a radius join.

Scale shape: two scans, one shuffle each onto the bucket key, explosion
factor <= 9 on the left side only, exact-filter selectivity does the
rest.  Hot buckets (urban cores) are *group* skew on the join key —
AQE's skew-join split handles the partition imbalance because the
bucket key is high-cardinality; for pathological single-bucket skew,
shrink the bucket size by passing a smaller ``radius_m`` to the
bucketing via ``grid_radius_m`` (buckets may be sized for any radius
>= the query radius without affecting correctness).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.geo_expr import point_in_polygon_with_holes_expr
from ..hexlib import geom
from ..hexlib.geom import EARTH_R

_DEG_M = math.pi * EARTH_R / 180.0  # meters per degree of latitude (sphere)


def haversine_m_expr(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle meters between two (lat, lng) degree pairs as a pure
    JVM expression — same sphere radius as hexlib.geom.haversine_m, so
    the NumPy and SQL paths agree bit-for-bit up to libm."""
    la1, lo1 = F.radians(lat1), F.radians(lng1)
    la2, lo2 = F.radians(lat2), F.radians(lng2)
    a = F.pow(F.sin((la2 - la1) / 2), 2) + F.cos(la1) * F.cos(la2) * F.pow(
        F.sin((lo2 - lo1) / 2), 2
    )
    a = F.greatest(F.lit(0.0), F.least(F.lit(1.0), a))
    return F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(a))


def bearing_deg_expr(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Initial great-circle bearing from point 1 to point 2, degrees in
    [0, 360) — pure JVM trig (atan2 form), same convention as the
    standard forward-azimuth formula."""
    la1, la2 = F.radians(lat1), F.radians(lat2)
    dlo = F.radians(lng2) - F.radians(lng1)
    y = F.sin(dlo) * F.cos(la2)
    x = F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dlo)
    return F.pmod(F.degrees(F.atan2(y, x)), F.lit(360.0))


def destination_expr(
    lat: Column, lng: Column, bearing_deg: Column, dist_m: Column
) -> Column:
    """Destination point: travel ``dist_m`` meters from (lat, lng) along
    the initial bearing — the inverse of :func:`bearing_deg_expr` /
    :func:`haversine_m_expr`.  Returns ``struct(lat, lng)`` with lng
    normalized to [-180, 180); pure JVM trig."""
    la1 = F.radians(lat)
    th = F.radians(bearing_deg)
    dl = dist_m / F.lit(EARTH_R)
    # clamp like haversine_m_expr: a destination landing at/near a pole
    # can push the FP sum to 1 + 1ulp (measured ~1% of pole-landing
    # samples) and an unclamped asin returns NaN
    sin_la2 = F.greatest(
        F.lit(-1.0),
        F.least(F.lit(1.0), F.sin(la1) * F.cos(dl) + F.cos(la1) * F.sin(dl) * F.cos(th)),
    )
    la2 = F.asin(sin_la2)
    lo2 = F.radians(lng) + F.atan2(
        F.sin(th) * F.sin(dl) * F.cos(la1), F.cos(dl) - F.sin(la1) * F.sin(la2)
    )
    lng_out = F.pmod(F.degrees(lo2) + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    return F.struct(F.degrees(la2).alias("lat"), lng_out.alias("lng"))


def _bkey(band: Column, idx: Column) -> Column:
    """(band, idx) combined into ONE long join key: ``band * 2^32 +
    idx``. Joining on a single long column makes the hash relation a
    LongHashedRelation (dense long-keyed map) instead of the generic
    UnsafeRow-keyed map a two-column key forces — measured **5.4x** on
    the broadcast probe (80M rows x 90k-entry relation: 11.6 s two-col
    vs 2.1 s single-long, BENCH/GEOJOIN.md round-5 note). Exact: idx is
    always in [0, n) (pmod) with n < 2^32 (the >= 1 cm grid guard in
    distance_join bounds the equatorial bucket count) and |band| <=
    ceil(90/dlat_deg) < 2^31, so the packing never collides or
    overflows."""
    return band * F.lit(1 << 32) + idx


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    right_lat_col: str | None = None,
    right_lng_col: str | None = None,
    suffix: str = "_r",
    dist_col: str = "dist_m",
    grid_radius_m: float | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """All (left, right) pairs with haversine distance <= ``radius_m``.

    Returns every left column, every right column (columns that collide
    with a left name get ``suffix``), plus ``dist_col`` (double meters).
    Exact — recall 1 and precision 1 by construction (grid candidate
    bound + haversine verify); no UDFs, the whole plan is JVM
    expressions inside whole-stage codegen.

    For a self-join pass the same DataFrame twice and filter
    ``id < id_r`` to keep each unordered pair once.

    ``grid_radius_m`` (>= radius_m) sizes the buckets independently of
    the match radius — coarser buckets trade candidate count for fewer
    groups, useful when the radius is far below the data's point
    spacing.

    ``broadcast_right`` (round 5): for a dimension-sized right side
    (e.g. 10^4 sites against a 10^12-point fact table) flip the
    explosion — the RIGHT side explodes to its 3x3 candidate buckets
    (9x of a small dim is still small) and is broadcast, the left side
    computes only its single home bucket, and the join is a
    BroadcastHashJoin: the fact table is NEVER shuffled (plan-pinned in
    tests). The bucket-width bound is symmetric in the two endpoints
    (_nb_sql sizes from the worst latitude of band +-1, covering
    both), so flipping which side explodes preserves recall 1 —
    asserted equal to the shuffle path in tests."""
    g = float(grid_radius_m if grid_radius_m is not None else radius_m)
    if g < radius_m:
        raise ValueError("grid_radius_m must be >= radius_m")
    # float-robustness pad (found by the hypothesis sweep): a pair at
    # EXACTLY the radius whose latitude sits within an ulp of a band
    # boundary can round across TWO bands (delta/dlat == 1 - 1e-300
    # rounds to 1.0, floor jumps). Padding the grid radius by 1e-9
    # relative keeps the band ratio <= 1/(1+1e-9) — a margin ~1e7 ulps
    # wide — so |band_l - band_r| <= 1 holds as computed, not just as
    # real numbers. Bucket sizing is conservative by construction, so
    # the pad costs nothing.
    g *= 1.0 + 1e-9
    # _bkey packing bound (round-6 advisor fix): BOTH halves of the
    # packed key must fit — |band| <= ceil(90 deg / dlat_deg) < 2^31
    # (bands) AND the equatorial bucket count n ~ 2*pi*R/g < 2^32
    # (indexes; at g = 5 mm n ~ 8.0e9 > 2^32, so idx would spill into
    # the band slot and two distinct (band, idx) pairs could pack to
    # one key). n < 2^32 needs g >= 2*pi*R/2^32 ~ 9.33 mm; guard at
    # 1 cm — still any physically meaningful radius.
    if g < 0.01:
        raise ValueError(
            f"radius/grid radius {g:.2e} m below 1 cm is not supported "
            "(band/index key packing bound)"
        )
    reserved = {"_band", "_idx", "_bkey", "_cand", "_b0", "_n0", "_n1", "_n2", "_i0", "_i1", "_i2"}
    # dist_col is an OUTPUT column: an input already carrying that name
    # (plausible in geo data) would be silently replaced by withColumn —
    # error like the internal reserved names do (round-4 advisor fix)
    reserved = reserved | {dist_col}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(f"distance_join reserves column names {sorted(clash)}")
    rlat = right_lat_col or lat_col
    rlng = right_lng_col or lng_col
    dlat_deg = g / _DEG_M

    rcols = [
        F.col(c).alias(c + suffix if c in left.columns else c) for c in right.columns
    ]
    rlat_out = rlat + suffix if rlat in left.columns else rlat
    rlng_out = rlng + suffix if rlng in left.columns else rlng
    r = right.select(*rcols)

    # Round 6: the bucket expressions are emitted as SQL TEXT in single
    # selectExpr calls (the h3_expr lateral-alias pattern) instead of
    # ~1,100 py4j Column-op round-trips — plan CONSTRUCTION dropped
    # 0.33 s -> ~0.05 s per call (cProfile: 1128 socket recv_into calls
    # dominated the build of distance_pairs). Same operations in the
    # same order with repr-exact double literals, so every computed
    # value is bit-identical to the Column-op form it replaced; the staged-attribute
    # structure (_b0/_n*/_i* as lateral aliases -> real columns before
    # the explode) is preserved because inlining the trig into the
    # generator measured 25x slower (BENCH/GEOJOIN.md).
    def _dl(v: float) -> str:
        # repr is shortest-round-trip; Java parseDouble is correctly
        # rounded, so the cast folds to the identical bits
        return f"CAST('{v!r}' AS DOUBLE)"

    _s = math.sin(g / (2.0 * EARTH_R))
    _rad_band = math.radians(dlat_deg)

    def _band_sql(la: str) -> str:
        return f"CAST(FLOOR(`{la}` / {_dl(dlat_deg)}) AS BIGINT)"

    def _nb_sql(band: str) -> str:
        # longitude bucket count for ``band``: wide enough that any pair
        # within the radius whose right row sits in this band (left row
        # in band +-1) differs by <= 1 index. The sizing latitude takes
        # one extra band of margin so it upper-bounds |lat| of BOTH
        # endpoints; cos() of it lower-bounds both cosines in the
        # haversine inequality. Capped at exactly pi/2: cos -> ~0 there,
        # the ratio saturates at 1 and the band collapses to n <= 2
        # buckets, so pole caps stay covered for ANY radius.
        worst = f"(GREATEST(ABS({band}), ABS(({band}) + 1)) + 1)"
        sizing = f"LEAST({_dl(math.pi / 2.0)}, {worst} * {_dl(_rad_band)})"
        w = f"({_dl(2.0)} * ASIN(LEAST({_dl(1.0)}, {_dl(_s)} / COS({sizing}))))"
        return (f"GREATEST(CAST(1 AS BIGINT), "
                f"CAST(FLOOR({_dl(2.0 * math.pi)} / {w}) AS BIGINT))")

    def _idx_sql(lg: str, n: str) -> str:
        return (f"PMOD(CAST(FLOOR((`{lg}` + {_dl(180.0)}) / ({_dl(360.0)} / ({n}))) "
                f"AS BIGINT), {n})")

    def _home(df: DataFrame, la: str, lg: str) -> DataFrame:
        # single home bucket: one band + one index in that band's width,
        # combined into ONE long key (_bkey, see _exploded for why)
        return df.selectExpr(
            "*",
            f"{_band_sql(la)} AS `_band`",
            f"{_idx_sql(lg, _nb_sql('`_band`'))} AS `_idx`",
            "(`_band` * 4294967296 + `_idx`) AS `_bkey`",
        ).drop("_band", "_idx")

    def _exploded(df: DataFrame, la: str, lg: str) -> DataFrame:
        # 3 bands x 3 indexes candidate buckets, deduped; _b0/_n*/_i*
        # resolve to attributes via lateral aliases, so the asin/cos
        # tree is evaluated 3x per row (once per band), never 18x.
        base = [f"`{c}`" for c in df.columns]
        stage = ["*", f"{_band_sql(la)} AS `_b0`"]
        for j, db in enumerate((-1, 0, 1)):
            stage.append(f"{_nb_sql(f'(`_b0` + ({db}))')} AS `_n{j}`")
            stage.append(f"{_idx_sql(lg, f'`_n{j}`')} AS `_i{j}`")
        pre = df.selectExpr(*stage)
        cands = ", ".join(
            f"STRUCT((`_b0` + ({db})) AS b, PMOD(`_i{j}` + ({di}), `_n{j}`) AS i)"
            for j, db in enumerate((-1, 0, 1))
            for di in (-1, 0, 1)
        )
        return pre.selectExpr(
            *base, f"EXPLODE(ARRAY_DISTINCT(ARRAY({cands}))) AS `_cand`"
        ).selectExpr("*", "(`_cand`.b * 4294967296 + `_cand`.i) AS `_bkey`")

    dist = haversine_m_expr(F.col(lat_col), F.col(lng_col), F.col(rlat_out), F.col(rlng_out))
    if broadcast_right:
        # dim-sized right: IT explodes (9x of small is small) and
        # broadcasts; the fact side computes its home bucket as a pure
        # projection and is never shuffled (no Exchange on the left —
        # plan-pinned in tests)
        joined = _home(left, lat_col, lng_col).join(
            F.broadcast(_exploded(r, rlat_out, rlng_out)), ["_bkey"], "inner"
        )
    else:
        # build the hash relation on the un-exploded right side: sorting
        # the 9x-exploded left for a merge join is pure overhead at any
        # scale
        joined = _exploded(left, lat_col, lng_col).join(
            _home(r, rlat_out, rlng_out).hint("shuffle_hash"), ["_bkey"], "inner"
        )
    return (
        joined.withColumn(dist_col, dist)
        .where(F.col(dist_col) <= F.lit(float(radius_m)))
        .drop("_cand", "_bkey")
    )


_GRID_RESERVED = {"_band", "_idx", "_bkey", "_la0", "_la1", "_lg0", "_lg1"}


def _bbox_bucket_candidates(
    points: DataFrame,
    polygons: DataFrame,
    cell_deg: float,
    lat_col: str,
    lng_col: str,
    ring_lat_col: str,
    ring_lng_col: str,
    carry: dict[str, Column],
    broadcast_polys: bool = False,
) -> DataFrame:
    """Candidate stage of pip_join (and so of streaming_geofence):
    polygons explode to every ``cell_deg`` grid bucket their bbox
    touches (id/payload columns per ``carry``), points hash to their
    single home bucket, one equi-join on the bucket key, then the
    pure-JVM bbox containment prefilter.  Returns every point column
    plus the ``carry`` columns; all internal columns are dropped.
    Raises on reserved-name clashes
    (points streams/tables already carrying ``_band`` etc. would
    otherwise fail with an ambiguous-reference error mid-plan)."""
    s = float(cell_deg)
    # _bkey packing bound (see distance_join): |band| <= 90/s < 2^31
    if s < 1e-7:
        raise ValueError(f"cell_deg {s:.2e} below 1e-7 deg is not supported (key packing)")
    clash = (_GRID_RESERVED | set(carry)) & set(points.columns)
    if clash:
        raise ValueError(f"grid candidate stage reserves column names {sorted(clash)}")
    b0 = F.floor(F.array_min(F.col(ring_lat_col)) / s).cast("long")
    b1 = F.floor(F.array_max(F.col(ring_lat_col)) / s).cast("long")
    # antimeridian guard (round-4 advisor): a ring crossing 180° has a
    # globe-spanning lng bbox — its bucket explosion would be ~360/s per
    # band AND the bbox prefilter would pass wrong points. Validate
    # extent < 180° and raise with the split-at-180 instruction instead
    # of silently exploding. Evaluated JVM-side per polygon row.
    lng_extent = F.array_max(F.col(ring_lng_col)) - F.array_min(F.col(ring_lng_col))
    i0 = F.when(
        lng_extent < F.lit(180.0),
        F.floor(F.array_min(F.col(ring_lng_col)) / s).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("polygon lng extent >= 180 deg (antimeridian-crossing ring?) "
                      "— split the ring at 180 first; extent="),
                lng_extent.cast("string"),
            )
        ).cast("long")
    )
    i1 = F.floor(F.array_max(F.col(ring_lng_col)) / s).cast("long")
    # single combined long bucket key (_bkey = band * 2^32 + idx, see
    # distance_join._bkey: LongHashedRelation probes measured 5.4x
    # faster than the two-column UnsafeRow key). idx here may be
    # negative (floor, no pmod) — packing stays injective because
    # |idx| <= 180/s << 2^31.
    buckets = polygons.select(
        *[c.alias(a) for a, c in carry.items()],
        F.array_min(F.col(ring_lat_col)).alias("_la0"),
        F.array_max(F.col(ring_lat_col)).alias("_la1"),
        F.array_min(F.col(ring_lng_col)).alias("_lg0"),
        F.array_max(F.col(ring_lng_col)).alias("_lg1"),
        F.explode(F.sequence(b0, b1)).alias("_band"),
        F.sequence(i0, i1).alias("_idxs"),
    ).select(
        *carry, "_la0", "_la1", "_lg0", "_lg1", "_band", F.explode("_idxs").alias("_idx")
    ).select(
        *carry, "_la0", "_la1", "_lg0", "_lg1",
        _bkey(F.col("_band"), F.col("_idx")).alias("_bkey"),
    )
    if broadcast_polys:
        buckets = F.broadcast(buckets)
    pts = points.select(
        "*",
        _bkey(
            F.floor(F.col(lat_col) / s).cast("long"),
            F.floor(F.col(lng_col) / s).cast("long"),
        ).alias("_bkey"),
    )
    return (
        pts.join(buckets, ["_bkey"], "inner")
        .where(
            F.col(lat_col).between(F.col("_la0"), F.col("_la1"))
            & F.col(lng_col).between(F.col("_lg0"), F.col("_lg1"))
        )
        .drop("_bkey", "_la0", "_la1", "_lg0", "_lg1")
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    cell_deg: float = 0.05,
    lat_col: str = "lat",
    lng_col: str = "lng",
    poly_id_col: str = "obj_id",
    ring_lat_col: str = "ring_lat",
    ring_lng_col: str = "ring_lng",
    holes_lat_col: str = "holes_lat",
    holes_lng_col: str = "holes_lng",
    broadcast_polys: bool = False,
    dedupe_parts: bool = True,
) -> DataFrame:
    """Point-in-polygon join: (point, polygon) pairs where the point lies
    inside the polygon ring — the reference's ``gpd.sjoin`` assignment
    (make_dataset.py:96-99), for polygon sides of any size (the scale
    path past ``spatial.spatial_join``'s broadcast tiling and
    ``strict_region_assign``'s broadcast rings).

    Shape (two stages, all JVM — no Python worker anywhere, plan-pinned):

      1. CANDIDATES — polygons explode to every ``cell_deg``-degree grid
         bucket their bbox touches (JVM ``sequence`` over band/idx
         ranges), carrying their ring and hole arrays; points hash to
         their single home bucket; one equi-join on the bucket key, then
         a pure-JVM bbox containment prefilter kills the grid slop.
      2. VERIFY — the Catalyst even-odd ray cast
         (``functions/geo_expr.point_in_polygon_with_holes_expr``,
         bit-identical to the NumPy kernel) filters the candidates.

    The bucket join is an ordinary shuffled equi-join, so a hot bucket
    (a city-sized ring under millions of points) is split by AQE's
    skew-join (on in ``plans/session.py``); there is no hand-built salt.
    ``broadcast_polys=True`` broadcasts the bucket-exploded polygons
    instead, so the point side is never shuffled — for dim-sized
    polygon sides and streams (``streaming_geofence``).

    ``cell_deg`` trades polygon-side explosion against candidate
    fan-in: size it near the typical polygon diameter.  Polygons
    crossing the antimeridian are not supported (their bbox would span
    the globe; the candidate stage raises); split them at 180 first.
    MultiPolygons (several rows sharing an id): a point inside ANY ring
    matches; ``dedupe_parts`` keeps one output row per (point, polygon
    id) — pass False for one row per containing ring and no extra
    exchange (streams, where a dropDuplicates would hold state).

    Interior rings: if the polygon side carries
    ``holes_lat_col``/``holes_lng_col`` (``array<array<double>>`` — a
    list of hole rings per row), a point inside a hole does NOT match
    that ring (even-odd over exterior + holes — the reference's sjoin
    semantics on shapely polygons with interiors).  Holes only shrink
    the exterior's area, so the exterior bbox still bounds the polygon.

    Returns every point column plus ``poly_id_col``.  NOTE: the part
    dedup is a ``dropDuplicates`` over ALL point columns — rows that are
    byte-identical across every column collapse to one output row, so
    include a unique id column when input multiplicity matters
    (``distance_join`` by contrast preserves multiplicity).
    """
    if poly_id_col in points.columns:
        raise ValueError(
            f"pip_join output column {poly_id_col!r} already exists in points"
        )
    has_holes = holes_lat_col in polygons.columns and holes_lng_col in polygons.columns
    null_rings = F.lit(None).cast("array<array<double>>")
    cand = _bbox_bucket_candidates(
        points, polygons, cell_deg, lat_col, lng_col,
        ring_lat_col, ring_lng_col,
        carry={
            poly_id_col: F.col(poly_id_col),
            "_rla": F.col(ring_lat_col),
            "_rlg": F.col(ring_lng_col),
            "_hla": F.col(holes_lat_col) if has_holes else null_rings,
            "_hlg": F.col(holes_lng_col) if has_holes else null_rings,
        },
        broadcast_polys=broadcast_polys,
    )
    out = cand.where(
        point_in_polygon_with_holes_expr(
            F.col(lat_col), F.col(lng_col),
            F.col("_rla"), F.col("_rlg"), F.col("_hla"), F.col("_hlg"),
        )
    ).drop("_rla", "_rlg", "_hla", "_hlg")
    if dedupe_parts:
        out = out.dropDuplicates(list(points.columns) + [poly_id_col])
    return out


def knn_join_full(
    left: DataFrame,
    right: DataFrame,
    k: int,
    initial_radius_m: float,
    left_id_cols: list[str],
    tiebreak_cols: list[str],
    max_doublings: int = 8,
    lat_col: str = "lat",
    lng_col: str = "lng",
    right_lat_col: str | None = None,
    right_lng_col: str | None = None,
    suffix: str = "_r",
    dist_col: str = "dist_m",
    rank_col: str = "knn_rank",
    pair_filter: Column | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Full-coverage spatial kNN join (round 5): ``knn_join`` with an
    iterative radius-doubling retry for stragglers, so every left row
    that has ANY right neighbor within ``initial_radius_m * 2 **
    max_doublings`` gets its true global top-k.

    Why this is exact: if a left row finds >= k neighbors within radius
    r, its k nearest within r ARE its k nearest globally (anything
    outside r is farther than the k-th match inside).  Rows with fewer
    than k matches retry at 2r — only the straggler set re-joins, so
    the degenerate all-pairs blowup of an unbounded kNN join never
    happens; the cost is bounded rounds of the same bucket join over a
    shrinking left side.  On the final round partial results are kept
    (a row with j < k neighbors in the largest radius returns those j);
    rows with zero neighbors even then are absent, like ``knn_join``.

    Driver-side loop: one ``isEmpty`` action per round (bounded by
    ``max_doublings``); per-round frames are localCheckpointed so the
    anti-join chain never recomputes prior rounds.
    """
    if "_nk" in set(left.columns) | set(right.columns):
        raise ValueError("knn_join_full reserves column name '_nk'")
    kw = dict(
        lat_col=lat_col, lng_col=lng_col,
        right_lat_col=right_lat_col, right_lng_col=right_lng_col,
        suffix=suffix, dist_col=dist_col, rank_col=rank_col,
        pair_filter=pair_filter, broadcast_right=broadcast_right,
    )
    ids = list(left_id_cols)
    remaining = left
    radius = float(initial_radius_m)
    out = None
    for rnd in range(max_doublings + 1):
        res = knn_join(
            remaining, right, k, radius, left_id_cols, tiebreak_cols, **kw
        ).localCheckpoint(eager=True)
        last = rnd == max_doublings
        if last:
            done = res
        else:
            sat = (
                res.groupBy(*ids)
                .agg(F.max(rank_col).alias("_nk"))
                .where(F.col("_nk") >= k)
                .select(*ids)
            )
            done = res.join(sat, ids, "semi")
            remaining = remaining.join(sat, ids, "anti").localCheckpoint(eager=True)
        out = done if out is None else out.unionByName(done)
        if last or remaining.isEmpty():
            break
        radius *= 2.0
    return out


def convex_hull(
    points: DataFrame,
    group_cols: list[str],
    lat_col: str = "lat",
    lng_col: str = "lng",
    reduce_cell_res: int | None = None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Per-group planar convex hull (Andrew's monotone chain) — the
    spatial extent of each group's points, e.g. a region's footprint
    from its image geotags.

    Shape: ONE shuffle on the group key, then an applyInPandas kernel
    whose working set is the group's points (for footprint-sized groups
    with millions of points, pre-aggregate to distinct H3 cells first —
    the hull of cell centers is the hull up to one cell radius).
    Planar in (lng, lat): correct for region-scale extents away from
    the poles/antimeridian, the engine's operating regime.

    Returns one row per group: ``hull_lat``/``hull_lng`` (CCW arrays,
    starting from the lexicographically smallest vertex), ``n_hull``,
    ``n_points`` and ``hull_area_m2`` (spherical area — exact for the
    convex hull via the centroid fan).  Degenerate groups (1 point,
    collinear sets) return the 1- or 2-vertex hull with area 0.

    Scale controls (round 5): ``reduce_cell_res`` ENFORCES the distinct
    -cell pre-aggregation the docstring used to merely prescribe —
    points collapse to their distinct H3 cell CENTERS (canonical, so
    the hull is deterministic) via a map-side-combined count agg before
    the group shuffle; only distinct cells reach the chain kernel and
    ``n_points`` still reports the raw input count (summed weights).
    The hull of cell centers equals the exact hull to within one cell
    radius.  ``max_group_rows`` raises inside the kernel when a group
    exceeds it — the guard against a million-point group silently
    straggling a task when no reduction was requested.
    """
    keys = list(group_cols)
    weight_col = None
    if reduce_cell_res is not None:
        from ..functions.h3_fns import h3_center, h3_encode_udf

        if "_cell" in points.columns or "_n" in points.columns:
            raise ValueError("convex_hull reserves column names ['_cell', '_n']")
        cells = (
            points.select(
                *keys,
                h3_encode_udf(reduce_cell_res)(F.col(lat_col), F.col(lng_col)).alias("_cell"),
            )
            .groupBy(*keys, "_cell")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        points = cells.select(
            *keys, "_n", h3_center(F.col("_cell")).alias("_c")
        ).select(*keys, "_n", F.col("_c.lat").alias(lat_col), F.col("_c.lng").alias(lng_col))
        weight_col = "_n"
    prefix = ", ".join(f"`{c}` {points.schema[c].dataType.simpleString()}" for c in keys)
    out_schema = (
        f"{prefix}, hull_lat array<double>, hull_lng array<double>, "
        "n_hull int, n_points bigint, hull_area_m2 double"
    )

    def hull(key, pdf):
        if max_group_rows is not None and len(pdf) > max_group_rows:
            raise ValueError(
                f"convex_hull group {tuple(key)} has {len(pdf)} rows > "
                f"max_group_rows={max_group_rows}; pass reduce_cell_res to "
                "pre-aggregate to distinct cell centers"
            )
        n_in = int(pdf[weight_col].sum()) if weight_col else len(pdf)
        pts = np.unique(
            np.stack([pdf[lng_col].to_numpy(), pdf[lat_col].to_numpy()], axis=1), axis=0
        )  # sorted lexicographically by (lng, lat), duplicates dropped
        n = len(pts)
        if n <= 2:
            h = pts
        else:
            def cross2(o, a, b):  # z of (a-o) x (b-o); np.cross(2d) is deprecated
                return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

            def half(seq):
                out = []
                for p in seq:
                    while len(out) >= 2 and cross2(out[-2], out[-1], p) <= 0:
                        out.pop()
                    out.append(p)
                return out

            lower = half(pts)
            upper = half(pts[::-1])
            h = np.array(lower[:-1] + upper[:-1])
        row = {k: key[i] for i, k in enumerate(keys)}
        row.update(
            hull_lat=h[:, 1].tolist(), hull_lng=h[:, 0].tolist(),
            n_hull=len(h), n_points=n_in,
            hull_area_m2=geom.spherical_polygon_area_m2(h[:, 1], h[:, 0]),
        )
        return pd.DataFrame([row])

    return points.groupBy(*keys).applyInPandas(hull, schema=out_schema)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    max_radius_m: float,
    left_id_cols: list[str],
    tiebreak_cols: list[str],
    lat_col: str = "lat",
    lng_col: str = "lng",
    right_lat_col: str | None = None,
    right_lng_col: str | None = None,
    suffix: str = "_r",
    dist_col: str = "dist_m",
    rank_col: str = "knn_rank",
    pair_filter: Column | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Bounded spatial kNN join: for every left row, its ``k`` nearest
    right rows among those within ``max_radius_m`` meters.

    The radius bound is what makes the join scale — an *unbounded* kNN
    join degenerates to all-pairs for isolated points.  Left rows with
    fewer than ``k`` neighbors in range keep the ones they have; rows
    with none are absent (inner-join semantics).  Re-run with a larger
    radius for stragglers if unbounded semantics are required.

    ``tiebreak_cols`` (right-side id columns, post-``suffix`` names)
    make the ranking total and deterministic when two neighbors are
    equidistant.  ``pair_filter`` drops candidate pairs BEFORE ranking
    (e.g. ``col('id') != col('id_r')`` to exclude self-matches in a
    self-join).  Plan: distance_join's single equi-join, then one
    window over the left id — two shuffles total.
    """
    from pyspark.sql import Window

    if rank_col in set(left.columns) | set(right.columns):
        # output column, same silent-replace hazard as dist_col above
        raise ValueError(f"knn_join output column {rank_col!r} already exists in an input")
    pairs = distance_join(
        left,
        right,
        max_radius_m,
        lat_col=lat_col,
        lng_col=lng_col,
        right_lat_col=right_lat_col,
        right_lng_col=right_lng_col,
        suffix=suffix,
        dist_col=dist_col,
        broadcast_right=broadcast_right,
    )
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    w = Window.partitionBy(*left_id_cols).orderBy(
        F.col(dist_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    return pairs.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
