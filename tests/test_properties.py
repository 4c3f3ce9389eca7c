"""Property-based kernel checks (hypothesis; SURVEY.md §5.4): invariants
that must hold for arbitrary inputs, not just the golden vectors —
encode/center round-trip, k-ring symmetry, parent containment, polyfill
center-containment, codec identity, Mercator inversion.

Scoped to the engine's active bbox (face-interior; hexlib documents the
base-cell seam measure ~0.2% of the globe as a known limit, so global
random points are exercised separately with a tolerance).
"""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from hex2vec_spark.hexlib import geom, h3core
from hex2vec_spark.hexlib import image as im

BBOX_LAT = st.floats(min_value=40.0, max_value=42.0, allow_nan=False)
BBOX_LNG = st.floats(min_value=14.0, max_value=17.0, allow_nan=False)
RES = st.integers(min_value=7, max_value=10)


class TestH3Properties:
    @settings(max_examples=60, deadline=None)
    @given(lat=BBOX_LAT, lng=BBOX_LNG, res=RES)
    def test_center_reencodes_to_same_cell(self, lat, lng, res):
        cell = h3core.encode(np.array([lat]), np.array([lng]), res)
        clat, clng = h3core.cell_center(cell)
        again = h3core.encode(clat, clng, res)
        assert again[0] == cell[0]

    @settings(max_examples=40, deadline=None)
    @given(lat=BBOX_LAT, lng=BBOX_LNG, res=st.integers(min_value=8, max_value=10))
    def test_parent_contains_child_center(self, lat, lng, res):
        child = h3core.encode(np.array([lat]), np.array([lng]), res)
        parent = h3core.cell_to_parent(child, res - 1)
        clat, clng = h3core.cell_center(child)
        # the child's center must encode into its own parent at res-1
        assert h3core.encode(clat, clng, res - 1)[0] == parent[0]

    @settings(max_examples=30, deadline=None)
    @given(lat=BBOX_LAT, lng=BBOX_LNG)
    def test_kring_symmetry(self, lat, lng):
        a = h3core.encode(np.array([lat]), np.array([lng]), 9)
        _, ring = h3core.kring_flat(a, 1)
        for b in ring:
            if b == a[0]:
                continue
            _, back = h3core.kring_flat(np.array([b], dtype=np.uint64), 1)
            assert a[0] in back

    @settings(max_examples=30, deadline=None)
    @given(lat=BBOX_LAT, lng=BBOX_LNG)
    def test_point_cell_contains_point(self, lat, lng):
        cell = h3core.encode(np.array([lat]), np.array([lng]), 9)
        verts = h3core.cell_boundary(cell)[0]  # (6, 2) lat,lng
        inside = geom.points_in_polygon(
            np.array([lat]), np.array([lng]), verts[:, 0], verts[:, 1]
        )
        assert inside[0]


class TestCoverBatchProperty:
    @settings(max_examples=15, deadline=None)
    @given(
        lat=st.floats(min_value=-70.0, max_value=70.0, allow_nan=False),
        lng=st.floats(min_value=-170.0, max_value=170.0, allow_nan=False),
        dlat=st.floats(min_value=0.001, max_value=0.05, allow_nan=False),
        dlng=st.floats(min_value=0.001, max_value=0.05, allow_nan=False),
    )
    def test_batch_cover_equals_scalar(self, lat, lng, dlat, dlng):
        # batched global-lattice cover must equal the per-polygon scalar
        # path for any polygon anywhere (including a second polygon at a
        # very different latitude in the same batch)
        self._check_batch_equals_scalar(lat, lng, dlat, dlng)

    # pinned seam-region examples (ADVICE r1: flaky hypothesis failures
    # were seam samples — make them deterministic). lat=-1.0,lng=167.25
    # is the reported repro that dropped cell 614716711114899455.
    def test_batch_cover_equals_scalar_at_seams(self):
        for (lat, lng) in [(-1.0, 167.25), (26.4, 33.9), (-31.8, -66.0),
                           (58.3, 10.5), (0.0, -31.0)]:
            self._check_batch_equals_scalar(lat, lng, 0.03, 0.03)

    def _check_batch_equals_scalar(self, lat, lng, dlat, dlng):
        rings = [
            ([lat, lat, lat + dlat, lat + dlat], [lng, lng + dlng, lng + dlng, lng]),
            ([0.0, 0.0, 0.02, 0.02], [1.0, 1.03, 1.03, 1.0]),
        ]
        rl = [r[0] for r in rings]
        rg = [r[1] for r in rings]
        p, c = h3core.cover_intersect_batch(rl, rg, 8, pad_cells=1.0)
        got = [set() for _ in rings]
        for pi, ci in zip(p, c):
            got[pi].add(int(ci))
        for i, (la, ln) in enumerate(rings):
            la, ln = np.asarray(la), np.asarray(ln)
            cand = h3core.cells_covering_bbox(la, ln, 8, pad_cells=1.0)
            verts = h3core.cell_boundary(cand)
            hit = geom.polygons_intersect_hexes(verts[:, :, 0], verts[:, :, 1], la, ln)
            assert got[i] == set(cand[hit].tolist())


class TestGlobalSeamMeasure:
    def test_global_center_roundtrip_within_documented_seam_measure(self):
        # face-authority identity + gap clamping: center-reencode
        # mismatch is ~0.01-0.1% of an area-uniform global sample
        rng = np.random.default_rng(11)
        n = 20000
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lng = rng.uniform(-180, 180, n)
        for res in (5, 8, 9):
            cells = h3core.encode(lat, lng, res)
            clat, clng = h3core.cell_center(cells)
            again = h3core.encode(clat, clng, res)
            frac = float(np.mean(again != cells))
            assert frac < 0.002, f"res {res}: {frac:.4f}"

    def test_global_assignment_distance_bounded(self):
        # every point's assigned cell center must stay LOCAL: warp-gap
        # slivers near face seams may exceed 2 cell radii (~2.8% of the
        # globe) but are clamped to the walked gap distance — never a
        # different face (the pre-fix failure mode was ~2400 km)
        rng = np.random.default_rng(11)
        n = 20000
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lng = rng.uniform(-180, 180, n)
        for res in (6, 9):
            cells = h3core.encode(lat, lng, res)
            clat, clng = h3core.cell_center(cells)
            d = geom.haversine_m(clat, clng, lat, lng)
            circ = 2.0 * h3core.edge_length_m(res)
            assert float(np.mean(d > circ)) < 0.032
            assert float(d.max()) < 700_000.0, f"res {res}: max {d.max()/1000:.0f} km"


class TestGeomProperties:
    @settings(max_examples=50, deadline=None)
    @given(
        lat=st.floats(min_value=-84.0, max_value=84.0, allow_nan=False),
        lng=st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
    )
    def test_mercator_3857_roundtrip(self, lat, lng):
        x, y = geom.lonlat_to_mercator_3857(np.array([lng]), np.array([lat]))
        lng2, lat2 = geom.mercator_3857_to_lonlat(x, y)
        assert abs(lng2[0] - lng) < 1e-9 and abs(lat2[0] - lat) < 1e-9

    @settings(max_examples=30, deadline=None)
    @given(
        lat=st.floats(min_value=-80.0, max_value=80.0, allow_nan=False),
        lng=st.floats(min_value=-179.0, max_value=179.0, allow_nan=False),
    )
    def test_mercator_3395_roundtrip(self, lat, lng):
        x, y = geom.lonlat_to_mercator_3395(np.array([lng]), np.array([lat]))
        lng2, lat2 = geom.mercator_3395_to_lonlat(x, y)
        assert abs(lng2[0] - lng) < 1e-7 and abs(lat2[0] - lat) < 1e-7


class TestCodecProperties:
    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_png_roundtrip_identity(self, w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = im.png_decode(im.png_encode(px))
        assert back.shape == px.shape and (back == px).all()

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_ppm_roundtrip_identity(self, w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = im.ppm_decode(im.ppm_encode(px))
        assert (back == px).all()


class TestCoarseResolutionCover:
    def test_coarse_res_cover_and_polyfill_work(self):
        # round-2 review regression: pad_rad alone exceeded the sampled
        # walk's bbox bound at res 0-1, so ANY coarse-res cover raised.
        # Full-window mode must serve res <= 3 for arbitrary polygons.
        la = np.array([41.0, 41.0, 41.2, 41.2])
        ln = np.array([15.3, 15.6, 15.6, 15.3])
        rng = np.random.default_rng(0)
        pl = rng.uniform(41.0, 41.2, 3000)
        pg = rng.uniform(15.3, 15.6, 3000)
        for res in (0, 1, 2, 3):
            cand = h3core.cells_covering_bbox(la, ln, res, pad_cells=2.0)
            assert len(cand) > 0
            h3core.polyfill(la, ln, res)  # must not raise
            cset = set(int(x) for x in cand)
            for e in np.unique(h3core.encode(pl, pg, res)):
                assert int(e) in cset
        # batch path works at coarse res too, and boundaries decode
        p, c = h3core.cover_intersect_batch([la], [ln], 2, pad_cells=1.0)
        assert len(c) > 0
        verts = h3core.cell_boundary(h3core.cells_covering_bbox(la, ln, 1, 1.0))
        assert verts.shape[1:] == (6, 2) and np.isfinite(verts).all()

    def test_near_global_bbox_cover_reaches_all_base_cells(self):
        # round-3 advisor fix: the in-reach test used cos(reach) without
        # clamping; for a near-global bbox reach exceeds pi and cos
        # wraps UPWARD, silently excluding far base cells (62 of 122
        # returned). cos(min(reach, pi)) = -1 keeps every cell.
        la = np.array([-89.0, 89.0])
        ln = np.array([-179.9, 179.9])
        cand = h3core.cells_covering_bbox(la, ln, 0, pad_cells=1.0)
        assert len(np.unique(cand)) == 122


class TestHierarchyProperties:
    """compact/uncompact invariants on arbitrary valid covers (the
    pure-python references that gate the Spark operator, plus the bit
    kernel vs the NumPy kernel)."""

    @settings(max_examples=40, deadline=None)
    @given(lat=BBOX_LAT, lng=BBOX_LNG, res=st.integers(min_value=2, max_value=9))
    def test_parent_fill_matches_kernel(self, lat, lng, res):
        from hex2vec_spark.operators.hierarchy import _RES_CLEAR, _fill_mask

        cell = h3core.encode(np.array([lat]), np.array([lng]), res)
        for pres in range(0, res + 1):
            via_bits = (int(cell[0]) & _RES_CLEAR) | (pres << 52) | _fill_mask(pres)
            via_kernel = int(h3core.cell_to_parent(cell, pres)[0])
            assert via_bits == via_kernel

    @settings(max_examples=25, deadline=None)
    @given(
        lat=BBOX_LAT,
        lng=BBOX_LNG,
        res=st.integers(min_value=3, max_value=7),
        depth=st.integers(min_value=1, max_value=2),
        data=st.data(),
    )
    def test_compact_invariants(self, lat, lng, res, depth, data):
        from hex2vec_spark.operators.hierarchy import compact_py, uncompact_py

        base = {int(np.int64(h3core.encode(np.array([lat]), np.array([lng]), res)[0]))}
        full = uncompact_py(base, res + depth)
        # arbitrary subset (valid cover: single resolution, no overlap)
        drop = data.draw(st.sets(st.sampled_from(sorted(full)), max_size=10))
        cover = full - drop
        comp = compact_py(cover)
        # 1) lossless coverage roundtrip
        assert uncompact_py(comp, res + depth) == cover
        # 2) idempotent
        assert compact_py(comp) == comp
        # 3) result is an antichain: no cell is an ancestor of another
        for a in comp:
            ra = (a >> 52) & 0xF
            for b in comp:
                rb = (b >> 52) & 0xF
                if a == b or rb <= ra:
                    continue
                from hex2vec_spark.operators.hierarchy import _RES_CLEAR, _fill_mask

                anc = (b & _RES_CLEAR) | (ra << 52) | _fill_mask(ra)
                assert anc != a, (a, b)
        # 4) full coverage compacts all the way back to the base cell
        assert compact_py(full) == base


class TestBandGridProperties:
    """The distance_join recall guarantee as a pure-math property: for
    ANY pair within the radius, the right row's home bucket must be in
    the left row's 3x3 candidate set. NumPy replicas of the SQL text
    distance_join emits in operators/geo_join.py (_band_sql/_nb_sql/
    _idx_sql)."""

    R = 6_371_008.8
    DEG_M = np.pi * R / 180.0

    def _band(self, lat, dlat):
        return int(np.floor(lat / dlat))

    def _nb(self, band, dlat, radius):
        worst = max(abs(band), abs(band + 1)) + 1
        sizing = min(np.pi / 2.0, worst * np.radians(dlat))
        s = np.sin(radius / (2.0 * self.R))
        w = 2.0 * np.arcsin(min(1.0, s / np.cos(sizing)))
        return max(1, int(np.floor(2.0 * np.pi / w))) if w > 0 else 1

    def _idx(self, lng, n):
        return int(np.floor((lng + 180.0) / (360.0 / n))) % n

    @settings(max_examples=400, deadline=None)
    @given(
        lat=st.floats(min_value=-89.99, max_value=89.99, allow_nan=False),
        lng=st.floats(min_value=-180.0, max_value=180.0, exclude_max=True, allow_nan=False),
        bearing=st.floats(min_value=0.0, max_value=2 * np.pi, allow_nan=False),
        frac=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        radius=st.floats(min_value=10.0, max_value=100_000.0, allow_nan=False),
    )
    @example(lat=89.99, lng=179.9, bearing=1.0, frac=1.0, radius=50.0)   # pole cap
    @example(lat=0.0, lng=179.9999, bearing=np.pi / 2, frac=1.0, radius=5000.0)  # antimeridian
    @example(lat=-89.95, lng=-180.0, bearing=4.0, frac=0.999, radius=99_000.0)
    def test_pair_within_radius_lands_in_candidate_set(self, lat, lng, bearing, frac, radius):
        d = frac * radius
        lat2 = lat + (d * np.cos(bearing)) / self.DEG_M
        if abs(lat2) > 90.0:
            return  # offset walked over the pole; not a valid lat/lng pair
        coslat = np.cos(np.radians(lat))
        if coslat < 1e-12:
            lng2 = lng
        else:
            lng2 = (lng + (d * np.sin(bearing)) / (self.DEG_M * coslat) + 180.0) % 360.0 - 180.0
        real = geom.haversine_m(
            np.array([lat]), np.array([lng]), np.array([lat2]), np.array([lng2])
        )[0]
        if real > radius:
            return  # planar offset overshot the haversine ball
        # the operator's float-robustness pad (geo_join.py): without it,
        # hypothesis finds lat=-2e-308, frac=1.0 — a pair at exactly the
        # radius straddling TWO bands through floor rounding
        dlat = radius * (1.0 + 1e-9) / self.DEG_M
        b_l, b_r = self._band(lat, dlat), self._band(lat2, dlat)
        assert abs(b_l - b_r) <= 1  # meridian arc bound
        n = self._nb(b_r, dlat, radius * (1.0 + 1e-9))
        home = self._idx(lng2, n)
        cands = {(self._idx(lng, n) + di) % n for di in (-1, 0, 1)}
        assert home in cands, (lat, lng, lat2, lng2, radius, n)
