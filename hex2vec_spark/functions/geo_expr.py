"""Point-in-polygon as pure Catalyst expressions (round 5).

The engine's one point-in-polygon predicate: every PIP plan
(``geo_join.pip_join``, shuffled or broadcast, and so
``streaming_geofence``; ``strict_region_assign``'s broadcast region
rings) filters with these, so no PIP plan runs a Python worker. The
NumPy ray-cast kernel (hexlib.geom.points_in_polygon) stays only as the
test oracle. These expressions are the same even-odd ray cast emitted
as JVM higher-order functions (``filter`` over an edge-index
``sequence``), term-identical to the kernel:

    cond_i = (y1 > py) != (y2 > py)           edge straddles the ray
    xint_i = x1 + (py - y1)/(y2 - y1)*(x2 - x1)
    inside = |{i : cond_i and px < xint_i}| is odd

IEEE float ops in the same association order as the NumPy kernel, so
the predicates agree bit-for-bit (pinned by a randomized equivalence
sweep in tests/test_geo_join.py). The division is guarded by CASE
(Catalyst CaseWhen evaluates lazily per row), so ANSI mode never sees a
divide-by-zero on horizontal edges — cond true implies y1 != y2.

Boundary semantics: points exactly on an edge may fall either side,
same as the kernel and the reference's shapely predicate
(make_dataset.py:96-99).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def point_in_ring_expr(
    lat: Column, lng: Column, ring_lat: Column, ring_lng: Column
) -> Column:
    """True where (lat, lng) lies inside the single ring given as two
    aligned array<double> columns — even-odd ray cast, all JVM."""
    n = F.size(ring_lat)
    idx = F.sequence(F.lit(0), n - F.lit(1))

    def crossing(i: Column) -> Column:
        y1 = F.element_at(ring_lat, i + F.lit(1))
        x1 = F.element_at(ring_lng, i + F.lit(1))
        j = F.pmod(i + F.lit(1), n) + F.lit(1)  # wrap: last edge closes the ring
        y2 = F.element_at(ring_lat, j)
        x2 = F.element_at(ring_lng, j)
        cond = (y1 > lat) != (y2 > lat)
        xint = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
        return F.when(cond, lng < xint).otherwise(F.lit(False))

    return F.size(F.filter(idx, crossing)) % 2 == 1


def point_in_polygon_with_holes_expr(
    lat: Column,
    lng: Column,
    ring_lat: Column,
    ring_lng: Column,
    holes_lat: Column | None = None,
    holes_lng: Column | None = None,
) -> Column:
    """True where (lat, lng) lies in (exterior minus holes): the XOR of
    even-odd parities over the exterior ring and each interior ring
    (array<array<double>> columns; null or absent -> hole-free) — the
    expression twin of hexlib.geom.points_in_polygon_with_holes."""
    inside = point_in_ring_expr(lat, lng, ring_lat, ring_lng)
    if holes_lat is None or holes_lng is None:
        return inside
    m = F.coalesce(F.size(holes_lat), F.lit(0))
    hidx = F.sequence(F.lit(0), m - F.lit(1))

    def in_hole(k: Column) -> Column:
        return point_in_ring_expr(
            lat, lng,
            F.element_at(holes_lat, k + F.lit(1)),
            F.element_at(holes_lng, k + F.lit(1)),
        )

    # sequence(0, -1) would yield [0, -1] (auto step -1): guard m == 0
    odd_holes = F.when(
        m > F.lit(0), F.size(F.filter(hidx, in_hole)) % 2 == 1
    ).otherwise(F.lit(False))
    return inside != odd_holes
