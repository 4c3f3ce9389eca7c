"""Unit + property tests for the hexlib kernels (SURVEY.md §5.1/§5.4).

Golden-vector notes: upstream h3 string ids from the reference notebooks
('891f7248233ffff', cluster-word2vec.ipynb cell 33) are format-validated
(mode/res bits, parseability). Bit-identical upstream numbering is not
reproducible without the h3 lib (none in this container); our grid is
H3-format compatible and self-consistent — see hexlib/icosa.py docstring.
"""

import numpy as np
import pytest

from hex2vec_spark.hexlib import geom, h3core as h3, hexmath as hm, icosa as ic


class TestIcosa:
    def test_spec_orientation_is_valid_icosahedron(self):
        assert ic.USED_SPEC_ORIENTATION
        dots = ic.FACE_CENTER @ ic.FACE_CENTER.T
        off = dots[~np.eye(20, dtype=bool)]
        spectrum = np.unique(np.round(off, 6))
        assert np.allclose(
            spectrum, [-1.0, -np.sqrt(5) / 3, -1 / 3, 1 / 3, np.sqrt(5) / 3], atol=1e-6
        )

    def test_base_cell_tables(self):
        assert ic.BC_CENTER.shape == (122, 3)
        assert int(ic.BC_PENTAGON.sum()) == 12
        assert np.all(ic.HOME_FACE >= 0) and np.all(ic.HOME_FACE < 20)
        # res-0 unit distance matches the public spec constant
        assert abs(ic.RES0_U - 0.38196601125010500003) < 1e-12

    def test_project_unproject_roundtrip(self):
        rng = np.random.default_rng(1)
        lat = rng.uniform(-80, 80, 1000)
        lng = rng.uniform(-180, 180, 1000)
        xyz = ic.geo_to_xyz(lat, lng)
        face = ic.nearest_face(xyz)
        x, y = ic.project(face, xyz)
        back = ic.unproject(face, x, y)
        assert np.allclose(back, xyz, atol=1e-12)


class TestHexMath:
    def test_rounding_is_exact_nearest(self):
        rng = np.random.default_rng(2)
        pts = rng.uniform(-3, 3, (2000, 2))
        ijk = hm.hex2d_to_ijk(pts[:, 0], pts[:, 1])
        gx, gy = hm.ijk_to_hex2d(ijk)
        d_round = np.hypot(pts[:, 0] - gx, pts[:, 1] - gy)
        ii, jj = np.meshgrid(np.arange(-8, 9), np.arange(-8, 9))
        cand = np.stack([ii.ravel(), jj.ravel(), np.zeros_like(ii.ravel())], -1)
        cx, cy = hm.ijk_to_hex2d(cand)
        d_best = np.min(
            np.hypot(pts[:, 0, None] - cx[None, :], pts[:, 1, None] - cy[None, :]), axis=1
        )
        assert np.allclose(d_round, d_best)

    @pytest.mark.parametrize("res", [1, 2, 5, 9, 15])
    def test_chain_invertible(self, res):
        rng = np.random.default_rng(res)
        anchors = hm.normalize_ijk(rng.integers(0, 3, (3000, 3)))
        digits = rng.integers(0, 7, (3000, res))
        ijk = hm.chain_down(anchors, digits, res)
        a2, d2 = hm.chain_up_digits(ijk, res)
        assert np.all(a2 == anchors)
        assert np.all(d2 == digits)

    def test_down_up_single_step(self):
        pts = hm.normalize_ijk(np.random.default_rng(3).integers(-5, 6, (500, 3)))
        assert np.all(hm.up_b(hm.down_b(pts)) == pts)
        assert np.all(hm.up_a(hm.down_a(pts)) == pts)


class TestH3Core:
    @pytest.mark.parametrize("res", [0, 1, 5, 9, 12])
    def test_roundtrip_regional(self, res):
        """encode(center(encode(p))) is exact away from base-cell seams;
        regional boxes (the engine's operating mode) are seam-free."""
        rng = np.random.default_rng(42)
        lat = rng.uniform(40, 42, 5000)
        lng = rng.uniform(14, 17, 5000)
        h = h3.encode(lat, lng, res)
        clat, clng = h3.cell_center(h)
        assert np.all(h3.encode(clat, clng, res) == h)

    def test_roundtrip_global_seam_bound(self):
        rng = np.random.default_rng(43)
        lat = rng.uniform(-89, 89, 20000)
        lng = rng.uniform(-180, 180, 20000)
        h = h3.encode(lat, lng, 9)
        clat, clng = h3.cell_center(h)
        ok = (h3.encode(clat, clng, 9) == h).mean()
        assert ok > 0.995  # documented seam measure ~0.2%

    def test_string_format_and_reference_ids_parse(self):
        # reference golden ids (cluster-word2vec.ipynb cells 33, 64, 72)
        for s in ["891f7248233ffff", "891e2045487ffff", "89283087633ffff"]:
            v = h3.string_to_h3([s])
            assert h3.get_resolution(v)[0] == 9  # res nibble in our layout too
            assert h3.h3_to_string(v)[0] == s

    def test_own_ids_format(self):
        h = h3.encode([41.0], [15.0], 9)
        s = h3.h3_to_string(h)[0]
        assert len(s) == 15 and s.endswith("ffff")  # res 9: 6 unused digits
        assert h3.get_resolution(h)[0] == 9

    def test_parent_consistency(self):
        rng = np.random.default_rng(5)
        lat = rng.uniform(40, 42, 2000)
        lng = rng.uniform(14, 17, 2000)
        h9 = h3.encode(lat, lng, 9)
        h7_parent = h3.cell_to_parent(h9, 7)
        # truncation is exact algebra: same base cell, digit prefix kept
        _, bc9, d9 = h3.unpack(h9)
        _, bc7, d7 = h3.unpack(h7_parent)
        assert np.all(bc9 == bc7)
        assert np.all(d9[:, :7] == d7[:, :7])
        assert np.all(d7[:, 7:] == 7)
        # direct coarse encode agrees except in child-stray bands — the
        # aperture-7 "gosper island" fractal boundary (real H3 behaves the
        # same way: children overhang the parent hexagon)
        h7_direct = h3.encode(lat, lng, 7)
        assert (h7_direct == h7_parent).mean() > 0.85

    def test_point_in_own_cell_boundary(self):
        rng = np.random.default_rng(6)
        lat = rng.uniform(40.5, 41.5, 500)
        lng = rng.uniform(15, 16, 500)
        h = h3.encode(lat, lng, 8)
        b = h3.cell_boundary(h)
        for i in range(500):
            assert geom.points_in_polygon(
                np.array([lat[i]]), np.array([lng[i]]), b[i, :, 0], b[i, :, 1]
            )[0]

    def test_kring_sizes_and_symmetry(self):
        rng = np.random.default_rng(7)
        lat = rng.uniform(40, 42, 2000)
        lng = rng.uniform(14, 17, 2000)
        h = np.unique(h3.encode(lat, lng, 9))
        src1, c1 = h3.kring_flat(h, 1)
        assert np.all(np.bincount(src1) == 7)
        src2, c2 = h3.kring_flat(h, 2)
        assert np.all(np.bincount(src2) == 19)
        pairs = set(zip(src1.tolist(), c1.tolist()))
        id_of = {int(c): i for i, c in enumerate(h)}
        for s, c in zip(src1[:5000], c1[:5000]):
            if int(c) in id_of:
                assert (id_of[int(c)], int(h[s])) in pairs

    def test_polyfill_center_semantics(self):
        ring_lat = np.array([41.0, 41.0, 41.25, 41.3, 41.25])
        ring_lng = np.array([15.0, 15.3, 15.35, 15.15, 14.95])
        cells = h3.polyfill(ring_lat, ring_lng, 8)
        assert len(cells) > 500
        clat, clng = h3.cell_center(cells)
        assert np.all(geom.points_in_polygon(clat, clng, ring_lat, ring_lng))
        # polyfill(boundary(c)) contains c for interior cells
        rng = np.random.default_rng(8)
        pl = rng.uniform(41.05, 41.2, 3000)
        pg = rng.uniform(15.05, 15.25, 3000)
        hp = np.unique(h3.encode(pl, pg, 8))
        assert np.isin(hp, cells).mean() > 0.95

    def test_edge_length_monotone(self):
        e = [h3.edge_length_m(r) for r in range(16)]
        assert all(a > b for a, b in zip(e, e[1:]))
        # aperture 7: successive edge ratio = sqrt(7)
        assert abs(e[5] / e[6] - np.sqrt(7)) < 0.01


class TestGridPath:
    RES = 8

    def _grid_dist(self, a, b, kmax=12):
        for k in range(kmax + 1):
            ring = h3.kring(np.array([a], dtype=np.uint64), k)[0]
            if b in ring:
                return k
        raise AssertionError("pair farther than kmax")

    def test_endpoints_adjacency_shortest(self):
        rng = np.random.default_rng(23)
        n = 40
        lat1 = rng.uniform(40.5, 41.5, n)
        lng1 = rng.uniform(14.5, 16.5, n)
        lat2 = lat1 + rng.uniform(-0.03, 0.03, n)
        lng2 = lng1 + rng.uniform(-0.03, 0.03, n)
        a = h3.encode(lat1, lng1, self.RES)
        b = h3.encode(lat2, lng2, self.RES)
        paths = h3.grid_path(a, b)
        for i, p in enumerate(paths):
            assert p[0] == a[i] and p[-1] == b[i]
            for x, y in zip(p[:-1], p[1:]):
                assert y in h3.neighbors(np.array([x], dtype=np.uint64))[0]
            # greedy == shortest on the face interior
            assert len(p) - 1 == self._grid_dist(a[i], b[i])

    def test_degenerate_and_deterministic(self):
        a = h3.encode(np.array([41.0]), np.array([15.0]), self.RES)
        (p,) = h3.grid_path(a, a.copy())
        assert list(p) == [a[0]]
        b = h3.encode(np.array([41.1]), np.array([15.2]), self.RES)
        p1 = h3.grid_path(a, b)[0]
        p2 = h3.grid_path(a, b)[0]
        assert list(p1) == list(p2)

    def test_nonconverged_raises(self):
        import pytest as _pytest

        a = h3.encode(np.array([41.0]), np.array([15.0]), self.RES)
        b = h3.encode(np.array([41.5]), np.array([16.0]), self.RES)
        with _pytest.raises(ValueError):
            h3.grid_path(a, b, max_steps=2)


class TestCellArea:
    def test_aperture7_area_ratio(self):
        rng = np.random.default_rng(3)
        lat, lng = rng.uniform(40.5, 41.5, 400), rng.uniform(14.5, 16.5, 400)
        m8 = h3.cell_area_m2(np.unique(h3.encode(lat, lng, 8))).mean()
        m9 = h3.cell_area_m2(np.unique(h3.encode(lat, lng, 9))).mean()
        assert abs(m8 / m9 - 7.0) < 0.05  # aperture 7: children are 1/7 area

    def test_polyfill_area_matches_spherical_polygon(self):
        # convex quad: fan triangulation from the centroid is exact, so
        # sum(polyfill cell areas) must approximate the polygon's
        # spherical area (boundary cells half-in/half-out cancel)
        ring_lat = np.array([41.0, 41.0, 41.3, 41.3])
        ring_lng = np.array([15.0, 15.4, 15.4, 15.0])
        cells = h3.polyfill(ring_lat, ring_lng, 8)
        total = h3.cell_area_m2(cells).sum()

        def unit(lat, lng):
            la, lo = np.radians(lat), np.radians(lng)
            cl = np.cos(la)
            return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=-1)

        c = unit(ring_lat.mean(), ring_lng.mean())
        v = unit(ring_lat, ring_lng)
        w = np.roll(v, -1, axis=0)

        def arc(a, b):
            return 2.0 * np.arcsin(np.clip(np.linalg.norm(a - b, axis=-1) / 2.0, 0, 1))

        a, b, cc = arc(v, w), arc(c[None], v), arc(c[None], w)
        s = (a + b + cc) / 2
        t = np.tan(s / 2) * np.tan((s - a) / 2) * np.tan((s - b) / 2) * np.tan((s - cc) / 2)
        poly_area = (4 * np.arctan(np.sqrt(np.clip(t, 0, None)))).sum() * geom.EARTH_R**2
        assert abs(total / poly_area - 1.0) < 0.02

    def test_area_positive_and_resolution_monotone(self):
        h7 = h3.encode(np.array([41.0]), np.array([15.0]), 7)
        h10 = h3.encode(np.array([41.0]), np.array([15.0]), 10)
        a7, a10 = h3.cell_area_m2(h7)[0], h3.cell_area_m2(h10)[0]
        assert a7 > a10 > 0
        assert abs(a7 / a10 - 7.0**3) / 7.0**3 < 0.05


class TestGeom:
    def test_pip_square(self):
        ring_lat = np.array([0.0, 0.0, 1.0, 1.0])
        ring_lng = np.array([0.0, 1.0, 1.0, 0.0])
        lat = np.array([0.5, 1.5, -0.1, 0.99])
        lng = np.array([0.5, 0.5, 0.5, 0.99])
        assert list(geom.points_in_polygon(lat, lng, ring_lat, ring_lng)) == [
            True, False, False, True]

    def test_mercator_3857_roundtrip(self):
        lng = np.array([0.0, 15.0, -120.0])
        lat = np.array([0.0, 45.0, -60.0])
        x, y = geom.lonlat_to_mercator_3857(lng, lat)
        lng2, lat2 = geom.mercator_3857_to_lonlat(x, y)
        assert np.allclose(lng, lng2) and np.allclose(lat, lat2)
        # fixed point: lat 0 -> y 0; lng 180 -> x = pi*a
        assert abs(y[0]) < 1e-9

    def test_mercator_3395_roundtrip(self):
        lng = np.array([10.0, -75.0])
        lat = np.array([52.0, -33.0])
        x, y = geom.lonlat_to_mercator_3395(lng, lat)
        lng2, lat2 = geom.mercator_3395_to_lonlat(x, y)
        assert np.allclose(lat, lat2, atol=1e-9) and np.allclose(lng, lng2)

    def test_hex_polygon_intersect(self):
        ring_lat = np.array([0.0, 0.0, 1.0, 1.0])
        ring_lng = np.array([0.0, 1.0, 1.0, 0.0])
        # hex fully inside, fully outside, straddling, surrounding a vertex
        t = np.radians(30 + 60 * np.arange(6))
        mk = lambda cy, cx, r: (cy + r * np.sin(t), cx + r * np.cos(t))
        hy = np.stack([mk(0.5, 0.5, 0.1)[0], mk(5, 5, 0.1)[0], mk(0.5, 1.0, 0.1)[0], mk(0.0, 0.0, 0.3)[0]])
        hx = np.stack([mk(0.5, 0.5, 0.1)[1], mk(5, 5, 0.1)[1], mk(0.5, 1.0, 0.1)[1], mk(0.0, 0.0, 0.3)[1]])
        got = geom.polygons_intersect_hexes(hy, hx, ring_lat, ring_lng)
        assert list(got) == [True, False, True, True]


class TestCosetChain:
    def test_coset_chain_equals_float_chain(self):
        # the integer coset chain must be bit-equal to the round-1
        # float-round implementation on arbitrary lattice points (the
        # proof sketch is in the docstring; this pins it empirically)
        from hex2vec_spark.hexlib import hexmath as hm

        rng = np.random.default_rng(3)
        for res in (1, 2, 5, 8, 9, 10):
            lim = 6 * 7 ** (res // 2 + 2)
            a = rng.integers(-lim, lim, 20000)
            b = rng.integers(-lim, lim, 20000)
            g = hm.chain_up_digits_axial(a.copy(), b.copy(), res)
            f = hm._chain_up_digits_axial_float(a.copy(), b.copy(), res)
            for x, y in zip(g, f):
                assert np.array_equal(x, y), res

    def test_roundtrip_chain_down(self):
        from hex2vec_spark.hexlib import hexmath as hm

        rng = np.random.default_rng(5)
        a = rng.integers(-7**6, 7**6, 5000)
        b = rng.integers(-7**6, 7**6, 5000)
        a0, b0, digs = hm.chain_up_digits_axial(a.copy(), b.copy(), 9)
        ra, rb = hm.chain_down_axial(a0.copy(), b0.copy(), digs, 9)
        assert np.array_equal(ra, a) and np.array_equal(rb, b)


class TestY4MCodec:
    def _smooth(self, n=5, h=24, w=32):
        ys, xs = np.mgrid[0:h, 0:w]
        return np.stack(
            [np.stack([(xs * 3 + f * 11) % 256, (ys * 5 + f * 7) % 256,
                       (xs + ys + f) % 256], -1) for f in range(n)]
        ).astype(np.uint8)

    def test_roundtrip_psnr_all_colorspaces(self):
        # north-rule bar: decoded pixels PSNR >= 40 dB for lossy paths.
        # C444's only loss is BT.601 uint8 quantization; subsampled
        # spaces are measured on smooth (realistic) content, where the
        # 2x2 chroma box-mean is representative — random noise would
        # punish any 4:2:0 codec identically.
        from hex2vec_spark.hexlib.image import psnr
        from hex2vec_spark.hexlib.video import y4m_decode, y4m_encode

        frames = self._smooth()
        for cs, floor in [("C444", 49.0), ("C422", 45.0), ("C420jpeg", 40.0)]:
            dec = y4m_decode(y4m_encode(frames, colorspace=cs))
            assert min(psnr(frames[i], dec[i]) for i in range(len(frames))) >= floor, cs
        # C444 also holds >= 40 dB on worst-case random noise
        noise = np.random.default_rng(0).integers(0, 256, (3, 24, 32, 3), dtype=np.uint8)
        dec = y4m_decode(y4m_encode(noise, colorspace="C444"))
        assert min(psnr(noise[i], dec[i]) for i in range(3)) >= 40.0

    def test_probe_indexes_without_decoding(self):
        from hex2vec_spark.hexlib.video import y4m_encode, y4m_probe

        b = y4m_encode(self._smooth(7), fps=(30001, 1000), colorspace="C420")
        info = y4m_probe(b)
        assert info["n_frames"] == 7
        assert (info["w"], info["h"]) == (32, 24)
        assert (info["fps_num"], info["fps_den"]) == (30001, 1000)
        # fixed raw frame size: offsets stride by 6 + w*h*3/2
        offs = info["frame_offsets"]
        assert {offs[i + 1] - offs[i] for i in range(6)} == {6 + 32 * 24 * 3 // 2}

    def test_selective_decode_equals_full_slice(self):
        from hex2vec_spark.hexlib.video import y4m_decode, y4m_encode

        b = y4m_encode(self._smooth(9), colorspace="C444")
        assert np.array_equal(y4m_decode(b, indices=[1, 4, 8]), y4m_decode(b)[[1, 4, 8]])

    def test_mono_and_errors(self):
        import pytest

        from hex2vec_spark.hexlib.video import y4m_decode, y4m_encode, y4m_probe

        frames = self._smooth(2)
        dm = y4m_decode(y4m_encode(frames, colorspace="Cmono"))
        assert np.array_equal(dm[..., 0], dm[..., 1])  # gray replicated
        with pytest.raises(ValueError, match="not a YUV4MPEG2"):
            y4m_probe(b"\x89PNG\r\n\x1a\nrest")
        with pytest.raises(ValueError, match="divisible"):
            y4m_encode(frames[:, :23], colorspace="C420")
        with pytest.raises(ValueError, match="truncated"):
            y4m_probe(y4m_encode(frames)[:-5])
        with pytest.raises(ValueError, match="colorspace"):
            y4m_encode(frames, colorspace="C411")

    def test_synth_fixture_deterministic_distinct(self):
        from hex2vec_spark.hexlib.image import phash64
        from hex2vec_spark.hexlib.video import synth_y4m_bytes, y4m_decode

        a, b = synth_y4m_bytes(4), synth_y4m_bytes(4)
        assert a == b  # deterministic
        frames = y4m_decode(a)
        assert len({phash64(f) for f in frames}) == len(frames)  # frames distinct
        assert synth_y4m_bytes(5) != a  # clips distinct


class TestGridPathResolutionGuard:
    def test_mixed_resolution_raises_up_front(self):
        a = h3.encode(np.array([40.0, 41.0]), np.array([15.0, 15.0]), 8)
        b = h3.encode(np.array([40.01, 41.01]), np.array([15.0, 15.0]), 8)
        mixed = a.copy()
        mixed[1] = h3.encode(np.array([41.0]), np.array([15.0]), 9)[0]
        with pytest.raises(ValueError, match="one resolution"):
            h3.grid_path(mixed, b)
        with pytest.raises(ValueError, match="one resolution"):
            h3.grid_path(a, np.array([b[0], h3.encode(np.array([41.01]), np.array([15.0]), 9)[0]]))


class TestPolyfillHoles:
    def test_hole_centers_excluded(self):
        ext_la = np.array([40.6, 40.6, 41.4, 41.4])
        ext_lg = np.array([14.8, 16.2, 16.2, 14.8])
        h_la = np.array([40.9, 40.9, 41.1, 41.1])
        h_lg = np.array([15.3, 15.7, 15.7, 15.3])
        base = set(h3.polyfill(ext_la, ext_lg, 7).tolist())
        holed = set(h3.polyfill(ext_la, ext_lg, 7, holes=[(h_la, h_lg)]).tolist())
        assert holed < base
        removed = np.array(sorted(base - holed), dtype=np.uint64)
        clat, clng = h3.cell_center(removed)
        # exactly the cells whose center is in the hole rect are removed
        assert ((clat > 40.9) & (clat < 41.1) & (clng > 15.3) & (clng < 15.7)).all()
        kla, klg = h3.cell_center(np.array(sorted(holed), dtype=np.uint64))
        assert not ((kla > 40.9) & (kla < 41.1) & (klg > 15.3) & (klg < 15.7)).any()
