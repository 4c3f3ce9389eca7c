"""Vectorized planar geometry: point-in-polygon, polygon/hex intersection,
Mercator reprojection, haversine.

Replaces the reference's Shapely/GeoPandas geometry layer
(kraina-ai/hex2vec src/data/make_dataset.py:19-99, download.py:11-22)
with NumPy closed forms — no geometry objects, only coordinate arrays,
which keeps everything Arrow-friendly inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

EARTH_R = 6_371_008.8  # mean radius, meters
WGS84_A = 6_378_137.0
WGS84_E = 0.081819190842622  # first eccentricity (EPSG:3395)


def points_in_polygon(
    plat: np.ndarray, plng: np.ndarray, ring_lat: np.ndarray, ring_lng: np.ndarray
) -> np.ndarray:
    """Even-odd ray casting, vectorized over points x edges.

    Treats lat/lng as planar (valid for the regional polygons this engine
    joins against; the reference's sjoin is likewise planar in EPSG:4326 —
    make_dataset.py:96-99). Points exactly on an edge may fall either side
    (same as the reference's predicate).
    """
    plat = np.asarray(plat, dtype=np.float64)
    plng = np.asarray(plng, dtype=np.float64)
    y1 = np.asarray(ring_lat, dtype=np.float64)
    x1 = np.asarray(ring_lng, dtype=np.float64)
    y2 = np.roll(y1, -1)
    x2 = np.roll(x1, -1)
    # edge straddles the horizontal line through the point
    py = plat[:, None]
    px = plng[:, None]
    cond = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = cond & (px < xint)
    return crossings.sum(axis=1) % 2 == 1


def points_in_polygon_with_holes(
    plat: np.ndarray,
    plng: np.ndarray,
    ring_lat: np.ndarray,
    ring_lng: np.ndarray,
    holes: "list[tuple[np.ndarray, np.ndarray]] | tuple" = (),
) -> np.ndarray:
    """Even-odd containment for a polygon with interior rings (round-5:
    the reference's ``gpd.sjoin`` handles arbitrary shapely geometry
    incl. holes — make_dataset.py:96-99; OSM boundary polygons routinely
    carry enclave holes).

    Even-odd ray casting composes: a point's containment in (exterior
    minus holes) is the XOR of its crossing parity over the exterior
    ring and over each hole ring — for properly nested rings this is
    exactly "inside the exterior and not inside any hole", and for the
    boundary-degenerate cases it matches the even-odd fill rule the
    flat :func:`points_in_polygon` already implements."""
    inside = points_in_polygon(plat, plng, ring_lat, ring_lng)
    for hla, hlg in holes:
        inside ^= points_in_polygon(
            plat, plng, np.asarray(hla, dtype=np.float64), np.asarray(hlg, dtype=np.float64)
        )
    return inside


def _segments_intersect(
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2
) -> np.ndarray:
    """Proper segment intersection test, broadcast over inputs."""

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    return ((d1 * d2) < 0) & ((d3 * d4) < 0)


def polygons_intersect_hexes(
    hex_verts_lat: np.ndarray,
    hex_verts_lng: np.ndarray,
    ring_lat: np.ndarray,
    ring_lng: np.ndarray,
) -> np.ndarray:
    """For N hexagons (N,6 vertex arrays) vs one polygon ring: True where
    the hexagon intersects the polygon (vertex containment either way, or
    any edge crossing). Mirrors gpd.sjoin(..., predicate='intersects') on
    the tiling (make_dataset.py:50-52).
    """
    n, m = hex_verts_lat.shape
    # any hex vertex inside polygon
    flat_in = points_in_polygon(
        hex_verts_lat.ravel(), hex_verts_lng.ravel(), ring_lat, ring_lng
    ).reshape(n, m)
    hit = flat_in.any(axis=1)
    # any polygon vertex inside hex (convex: half-plane test against all edges)
    rem = ~hit
    if np.any(rem):
        hv_lat = hex_verts_lat[rem]
        hv_lng = hex_verts_lng[rem]
        nx = np.roll(hv_lng, -1, axis=1)
        ny = np.roll(hv_lat, -1, axis=1)
        # cross((v2-v1), (p-v1)) per hex-edge x polygon-vertex
        px = ring_lng[None, None, :]
        py = ring_lat[None, None, :]
        cross = (nx - hv_lng)[:, :, None] * (py - hv_lat[:, :, None]) - (
            ny - hv_lat
        )[:, :, None] * (px - hv_lng[:, :, None])
        inside = np.all(cross >= 0, axis=1) | np.all(cross <= 0, axis=1)
        hit[rem] = inside.any(axis=1)
    # any hex edge crossing any polygon edge
    rem = ~hit
    if np.any(rem):
        hv_lat = hex_verts_lat[rem]
        hv_lng = hex_verts_lng[rem]
        hx1, hy1 = hv_lng, hv_lat
        hx2, hy2 = np.roll(hv_lng, -1, axis=1), np.roll(hv_lat, -1, axis=1)
        rx1, ry1 = ring_lng, ring_lat
        rx2, ry2 = np.roll(ring_lng, -1), np.roll(ring_lat, -1)
        inter = _segments_intersect(
            hx1[:, :, None], hy1[:, :, None], hx2[:, :, None], hy2[:, :, None],
            rx1[None, None, :], ry1[None, None, :], rx2[None, None, :], ry2[None, None, :],
        )
        hit[rem] = inter.any(axis=(1, 2))
    return hit


def polygons_intersect_hexes_pairs(
    hex_verts_lat: np.ndarray,
    hex_verts_lng: np.ndarray,
    ring_lat: np.ndarray,
    ring_lng: np.ndarray,
    chunk: int = 200_000,
) -> np.ndarray:
    """Pairwise variant of :func:`polygons_intersect_hexes`: row k tests
    hexagon k against ring k — (K,6) hex vertices vs (K,R) rings. Rings
    may be padded to a common R by repeating the last vertex (degenerate
    edges never contribute: zero-length edges fail both the straddle test
    and the proper-intersection test, and duplicate vertices don't change
    an ``any``). Same predicate as the scalar path: vertex containment
    either way, or any edge crossing. Chunked over K to bound the
    (K,6,R) broadcast memory."""
    K = hex_verts_lat.shape[0]
    out = np.zeros(K, dtype=bool)
    for c0 in range(0, K, chunk):
        sl = slice(c0, min(c0 + chunk, K))
        hl, hg = hex_verts_lat[sl], hex_verts_lng[sl]          # (k,6)
        rl, rg = ring_lat[sl], ring_lng[sl]                    # (k,R)
        rl2, rg2 = np.roll(rl, -1, axis=1), np.roll(rg, -1, axis=1)

        # 1) any hex vertex inside its ring (even-odd ray cast)
        py = hl[:, :, None]                                    # (k,6,1)
        px = hg[:, :, None]
        y1, y2 = rl[:, None, :], rl2[:, None, :]               # (k,1,R)
        x1, x2 = rg[:, None, :], rg2[:, None, :]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
        crossings = (cond & (px < xint)).sum(axis=2)           # (k,6)
        hit = (crossings % 2 == 1).any(axis=1)

        # 2) any ring vertex inside the (convex) hex: half-plane test
        nx, ny = np.roll(hg, -1, axis=1), np.roll(hl, -1, axis=1)
        pxr = rg[:, None, :]                                   # (k,1,R)
        pyr = rl[:, None, :]
        cross = (nx - hg)[:, :, None] * (pyr - hl[:, :, None]) - (
            ny - hl
        )[:, :, None] * (pxr - hg[:, :, None])                 # (k,6,R)
        inside = np.all(cross >= 0, axis=1) | np.all(cross <= 0, axis=1)
        hit |= inside.any(axis=1)

        # 3) any hex edge crossing any ring edge
        hx1, hy1 = hg[:, :, None], hl[:, :, None]
        hx2, hy2 = np.roll(hg, -1, axis=1)[:, :, None], np.roll(hl, -1, axis=1)[:, :, None]
        inter = _segments_intersect(
            hx1, hy1, hx2, hy2,
            rg[:, None, :], rl[:, None, :], rg2[:, None, :], rl2[:, None, :],
        )
        hit |= inter.any(axis=(1, 2))
        out[sl] = hit
    return out


def hexes_inside_ring(
    hex_verts_lat: np.ndarray,
    hex_verts_lng: np.ndarray,
    ring_lat: np.ndarray,
    ring_lng: np.ndarray,
) -> np.ndarray:
    """True where the (convex) hexagon lies entirely in the ring's open
    interior: all vertices inside AND no hex edge properly crossing a
    ring edge. Used to subtract hole-swallowed cells from a tiling — a
    hex that crosses the hole boundary still intersects the polygon, a
    hex the hole fully contains does not. (A hole strictly inside a hex
    cannot satisfy the all-vertices test, so that case is correctly
    "not contained".)"""
    n, m = hex_verts_lat.shape
    flat_in = points_in_polygon(
        hex_verts_lat.ravel(), hex_verts_lng.ravel(), ring_lat, ring_lng
    ).reshape(n, m)
    inside = flat_in.all(axis=1)
    idx = np.nonzero(inside)[0]
    if idx.size:
        hv_lat = hex_verts_lat[idx]
        hv_lng = hex_verts_lng[idx]
        hx1, hy1 = hv_lng, hv_lat
        hx2, hy2 = np.roll(hv_lng, -1, axis=1), np.roll(hv_lat, -1, axis=1)
        rx1, ry1 = np.asarray(ring_lng, dtype=np.float64), np.asarray(ring_lat, dtype=np.float64)
        rx2, ry2 = np.roll(rx1, -1), np.roll(ry1, -1)
        inter = _segments_intersect(
            hx1[:, :, None], hy1[:, :, None], hx2[:, :, None], hy2[:, :, None],
            rx1[None, None, :], ry1[None, None, :], rx2[None, None, :], ry2[None, None, :],
        )
        inside[idx] &= ~inter.any(axis=(1, 2))
    return inside


# ------------------------------------------------------------- reprojection

def lonlat_to_mercator_3857(lng_deg: np.ndarray, lat_deg: np.ndarray):
    """EPSG:4326 -> EPSG:3857 (spherical web mercator; visualize.py:41)."""
    x = WGS84_A * np.radians(lng_deg)
    y = WGS84_A * np.log(np.tan(np.pi / 4.0 + np.radians(lat_deg) / 2.0))
    return x, y


def mercator_3857_to_lonlat(x: np.ndarray, y: np.ndarray):
    lng = np.degrees(x / WGS84_A)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / WGS84_A)) - np.pi / 2.0)
    return lng, lat


def lonlat_to_mercator_3395(lng_deg: np.ndarray, lat_deg: np.ndarray):
    """EPSG:4326 -> EPSG:3395 (ellipsoidal mercator; the reference buffers
    city polygons in 3395 — make_dataset.py:61-65)."""
    lat = np.radians(lat_deg)
    x = WGS84_A * np.radians(lng_deg)
    e = WGS84_E
    y = WGS84_A * np.log(
        np.tan(np.pi / 4.0 + lat / 2.0)
        * ((1.0 - e * np.sin(lat)) / (1.0 + e * np.sin(lat))) ** (e / 2.0)
    )
    return x, y


def mercator_3395_to_lonlat(x: np.ndarray, y: np.ndarray, iters: int = 8):
    lng = np.degrees(x / WGS84_A)
    t = np.exp(-y / WGS84_A)
    lat = np.pi / 2.0 - 2.0 * np.arctan(t)
    e = WGS84_E
    for _ in range(iters):
        lat = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - e * np.sin(lat)) / (1.0 + e * np.sin(lat))) ** (e / 2.0)
        )
    return lng, np.degrees(lat)


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    la1, lo1, la2, lo2 = map(np.radians, (lat1, lng1, lat2, lng2))
    a = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


def _unit_xyz(lat, lng):
    la, lo = np.radians(lat), np.radians(lng)
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=-1)


def spherical_fan_area_m2(
    clat: np.ndarray, clng: np.ndarray, vlat: np.ndarray, vlng: np.ndarray
) -> np.ndarray:
    """Spherical areas (m^2) of N polygons by fan triangulation from a
    per-polygon apex: ``clat/clng`` (N,), ``vlat/vlng`` (N, K) vertex
    rings.  Each triangle's excess via L'Huilier — exact whenever the
    apex sees every edge (always true for convex rings with an interior
    apex, e.g. H3 cells from their center, hulls from their centroid).
    The SINGLE copy of this kernel — h3core.cell_area_m2 and
    spherical_polygon_area_m2 both call it (review finding: it existed
    three times)."""
    c = _unit_xyz(np.asarray(clat, dtype=np.float64), np.asarray(clng, dtype=np.float64))
    v = _unit_xyz(np.asarray(vlat, dtype=np.float64), np.asarray(vlng, dtype=np.float64))
    w = np.roll(v, -1, axis=1)

    def arc(a, b):
        return 2.0 * np.arcsin(np.clip(np.linalg.norm(a - b, axis=-1) / 2.0, 0.0, 1.0))

    a, b, cc = arc(v, w), arc(c[:, None], v), arc(c[:, None], w)
    s = (a + b + cc) / 2.0
    t = np.tan(s / 2) * np.tan((s - a) / 2) * np.tan((s - b) / 2) * np.tan((s - cc) / 2)
    return (4.0 * np.arctan(np.sqrt(np.clip(t, 0.0, None)))).sum(axis=1) * EARTH_R**2


def spherical_polygon_area_m2(ring_lat: np.ndarray, ring_lng: np.ndarray) -> float:
    """Spherical area of a simple polygon (m^2): fan from the vertex
    centroid — exact for convex rings, good for near-convex region
    extents."""
    ring_lat = np.asarray(ring_lat, dtype=np.float64)
    ring_lng = np.asarray(ring_lng, dtype=np.float64)
    if len(ring_lat) < 3:
        return 0.0
    return float(
        spherical_fan_area_m2(
            np.array([ring_lat.mean()]), np.array([ring_lng.mean()]),
            ring_lat[None, :], ring_lng[None, :],
        )[0]
    )
