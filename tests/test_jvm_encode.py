"""JVM (Catalyst-expression) H3 encode vs the Arrow/NumPy kernel.

The whole value of functions/h3_expr is the bit-identity claim: wherever
``jvm_encode_support`` accepts a (bbox, res), the codegen'd expression
must equal ``h3core.encode`` exactly — not approximately — because the
cell id is a JOIN KEY (operators/spatial.spatial_join) and a single
flipped cell silently moves rows across regions.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hex2vec_spark.functions import h3_expr as hx
from hex2vec_spark.functions.h3_fns import DEFAULT_BBOX, h3_from_phash_np
from hex2vec_spark.hexlib import h3core


def _phash_df(spark, n, seed=7):
    rng = np.random.default_rng(seed)
    ph = rng.integers(0, 2**63, size=n, dtype=np.int64)
    return ph, spark.createDataFrame(pd.DataFrame({"phash": ph}))


class TestBitIdentity:
    @pytest.mark.parametrize("res", [8, 9, 10])
    def test_phash_distribution_exact(self, spark, res):
        # the real input distribution (geotag convention over the active
        # bbox), 200k rows per res — 0 mismatches allowed
        ph, df = _phash_df(spark, 200_000, seed=res)
        expected = h3_from_phash_np(ph, res, DEFAULT_BBOX)
        got = (
            hx.attach_h3_from_phash_jvm(df, res, DEFAULT_BBOX)
            .toPandas()["h3"]
            .to_numpy()
        )
        assert (got != expected).sum() == 0

    def test_dense_grid_exact_including_bbox_edges(self, spark):
        # deterministic dense grid INCLUDING the exact bbox corners and
        # edges (linspace endpoints) — the worst case for the anchor-
        # window validation
        lat0, lat1, lng0, lng1 = DEFAULT_BBOX
        glat, glng = np.meshgrid(
            np.linspace(lat0, lat1, 301), np.linspace(lng0, lng1, 301), indexing="ij"
        )
        lat, lng = glat.ravel(), glng.ravel()
        expected = h3core.encode(lat, lng, 9)
        pdf = pd.DataFrame({"lat": lat, "lng": lng})
        got = (
            hx.attach_h3_jvm(
                spark.createDataFrame(pdf), 9, DEFAULT_BBOX,
                lat=F.col("lat"), lng=F.col("lng"),
            )
            .toPandas()["h3"]
            .to_numpy()
        )
        assert (got != expected).sum() == 0

    def test_boundary_adjacent_points_exact(self, spark):
        # points jittered to within ~1e-9 deg of hex boundaries (where a
        # 1-ulp trig disagreement would flip the cell): take cell
        # boundary vertices of encoded cells and nudge inward/outward
        rng = np.random.default_rng(3)
        lat = rng.uniform(DEFAULT_BBOX[0] + 0.05, DEFAULT_BBOX[1] - 0.05, 2000)
        lng = rng.uniform(DEFAULT_BBOX[2] + 0.05, DEFAULT_BBOX[3] - 0.05, 2000)
        cells = h3core.encode(lat, lng, 9)
        bnd = h3core.cell_boundary(cells)  # (n, 6, 2) (lat, lng) vertices
        blat, blng = bnd[..., 0], bnd[..., 1]
        eps = rng.uniform(-1e-9, 1e-9, blat.shape)
        plat = np.clip(blat + eps, DEFAULT_BBOX[0], DEFAULT_BBOX[1]).ravel()
        plng = np.clip(blng + eps, DEFAULT_BBOX[2], DEFAULT_BBOX[3]).ravel()
        expected = h3core.encode(plat, plng, 9)
        pdf = pd.DataFrame({"lat": plat, "lng": plng})
        got = (
            hx.attach_h3_jvm(
                spark.createDataFrame(pdf), 9, DEFAULT_BBOX,
                lat=F.col("lat"), lng=F.col("lng"),
            )
            .toPandas()["h3"]
            .to_numpy()
            .astype(np.uint64)
        )
        # JVM Math.cos/sin and libm may differ by 1-2 ulp; at a
        # three-cell corner whose tie locus runs along the jitter
        # direction that can flip the tie-fix branch. The contract
        # (h3_expr docstring): such flips are (a) vanishingly rare even
        # on this adversarial vertex-hugging fixture, (b) always to a
        # cell ADJACENT to the expected one (the corner's other cells) —
        # never a teleport.
        bad = np.nonzero(got != expected)[0]
        assert len(bad) <= len(got) * 1e-3, len(bad)
        for i in bad:
            ring = h3core.kring(np.array([expected[i]], dtype=np.uint64), 1)
            assert got[i] in np.asarray(ring).ravel()


class TestRandomBboxes:
    def test_bit_identity_on_random_supported_bboxes(self, spark):
        # the support gate + chain are exercised on ONE bbox elsewhere;
        # here: random small bboxes across the globe. Wherever
        # supports_bbox accepts, the chain must be bit-identical to the
        # kernel on points INSIDE that bbox; rejected bboxes must fall
        # back (assign_h3 auto) and still match the kernel.
        rng = np.random.default_rng(17)
        accepted = rejected = 0
        for _ in range(14):
            lat0 = float(rng.uniform(-65, 60))
            lng0 = float(rng.uniform(-175, 170))
            bbox = (lat0, lat0 + float(rng.uniform(1, 5)),
                    lng0, lng0 + float(rng.uniform(1, 5)))
            res = int(rng.integers(8, 11))
            lat = rng.uniform(bbox[0], bbox[1], 4000)
            lng = rng.uniform(bbox[2], bbox[3], 4000)
            expected = h3core.encode(lat, lng, res)
            if not hx.supports_bbox(bbox, res):
                rejected += 1
                continue
            accepted += 1
            pdf = pd.DataFrame({"lat": lat, "lng": lng})
            got = (
                hx.attach_h3_jvm(
                    spark.createDataFrame(pdf), res, bbox,
                    lat=F.col("lat"), lng=F.col("lng"),
                )
                .toPandas()["h3"].to_numpy()
            )
            assert (got != expected).sum() == 0, (bbox, res)
        # the sample must actually exercise the fast path; mid-latitude
        # small bboxes are mostly face-interior
        assert accepted >= 5, (accepted, rejected)


class TestSupportGate:
    def test_global_bbox_rejected(self):
        assert not hx.supports_bbox((-60.0, 60.0, -170.0, 170.0), 8)

    def test_active_bbox_supported(self):
        assert hx.supports_bbox(DEFAULT_BBOX, 8)
        assert hx.supports_bbox(DEFAULT_BBOX, 9)

    def test_auto_falls_back_to_arrow_on_unsupported(self, spark):
        from hex2vec_spark.operators.spatial import assign_h3

        sc = spark.sparkContext._jsc.sc()
        stored = {i.id() for i in sc.getRDDStorageInfo()}
        _, df = _phash_df(spark, 100)
        out = assign_h3(df, res=8, bbox=(-60.0, 60.0, -170.0, 170.0))
        qe = out._jdf.queryExecution()
        # one kernel pass over the input: a single ArrowEvalPython and no
        # checkpointed (LogicalRDD) branch
        assert qe.executedPlan().toString().count("ArrowEvalPython") == 1
        assert "LogicalRDD" not in qe.optimizedPlan().toString()
        # and values match the kernel for the same bbox
        ph = np.array([r["phash"] for r in df.select("phash").collect()], dtype=np.int64)
        expected = h3_from_phash_np(ph, 8, (-60.0, 60.0, -170.0, 170.0))
        got = out.toPandas().set_index("phash")["h3"]
        assert (got.loc[ph].to_numpy() != expected).sum() == 0
        # the encode leaves no data behind in the session
        assert {i.id() for i in sc.getRDDStorageInfo()} <= stored

    def test_unmapped_anchor_slot_raises_not_corrupts(self, spark):
        # round-3 advisor fix: a point landing in a res-0 slot the
        # sampled-grid validation never saw must RAISE at runtime, not
        # pack shiftleft(-1, 45) garbage into the cell id. Simulate the
        # gap by poisoning the support memo with an empty slot map.
        _, df = _phash_df(spark, 50)
        key = (tuple(DEFAULT_BBOX), 9)
        hx.jvm_encode_support(DEFAULT_BBOX, 9)
        face, bc_map = hx._SUPPORT_MEMO[key]
        try:
            hx._SUPPORT_MEMO[key] = (face, {})
            out = hx.attach_h3_from_phash_jvm(df, 9, DEFAULT_BBOX)
            with pytest.raises(Exception, match="anchor slot|USER_RAISED"):
                out.collect()
        finally:
            hx._SUPPORT_MEMO[key] = (face, bc_map)

    def test_temp_column_collision_raises(self, spark):
        _, df = _phash_df(spark, 5)
        with pytest.raises(ValueError):
            hx.attach_h3_jvm(
                df.withColumn("__h3e_a", F.lit(1.0)), 9, DEFAULT_BBOX,
                lat=F.lit(41.0), lng=F.lit(15.0),
            )

    def test_output_keeps_input_columns_only_plus_out(self, spark):
        _, df = _phash_df(spark, 5)
        out = hx.attach_h3_from_phash_jvm(df, 9, DEFAULT_BBOX, out="cell")
        assert out.columns == ["phash", "cell"]


class TestRound4AdvisorFixes:
    def _window_aks(self, lat, lng, res=9):
        # replicate the chain's anchor-key derivation on FACE f's frame
        # (the chain uses the validated face regardless of the point)
        from hex2vec_spark.hexlib import hexmath as hm
        from hex2vec_spark.hexlib import icosa as ic

        f, bc_map = hx.jvm_encode_support(DEFAULT_BBOX, res)
        lat = np.asarray(lat, dtype=np.float64)
        lng = np.asarray(lng, dtype=np.float64)
        xyz = ic.geo_to_xyz(lat, lng)
        xh, yh = ic.project(np.full(len(lat), f), xyz)
        xr, yr = hm.res0_to_res_xy(xh, yh, res)
        a, b = hm.hex2d_to_axial(xr, yr)
        a0, b0, _ = hm.chain_up_digits_axial(a, b, res)
        return f, bc_map, (a0 + 2) * 5 + (b0 + 2)

    def test_below_window_anchor_key_raises_not_wraps(self, spark):
        # round-4 advisor fix (medium): with ANSI off, element_at on a
        # NEGATIVE index reads from the array END, so a point whose
        # res-0 anchor key falls BELOW the window (ak in [-25,-2]) used
        # to resolve to the slot at dense[25+ak] on the opposite window
        # edge — if that slot was mapped, a silently WRONG base cell was
        # packed. Build exactly that scenario: find an out-of-window
        # point with a numerically stable negative ak, poison the
        # support memo so its wrap target IS mapped, and require the
        # encode to RAISE (the old code returned a corrupt id here).
        res = 9
        # ring of points outside but near the bbox (stable projections)
        la0, la1, lo0, lo1 = DEFAULT_BBOX
        cand_lat, cand_lng = [], []
        for dla in np.linspace(-40.0, 40.0, 41):
            for dlo in np.linspace(-40.0, 40.0, 41):
                la, lo = (la0 + la1) / 2 + dla, (lo0 + lo1) / 2 + dlo
                if not (la0 <= la <= la1 and lo0 <= lo <= lo1):
                    cand_lat.append(la)
                    cand_lng.append(lo)
        f, bc_map, ak = self._window_aks(cand_lat, cand_lng, res)
        # stability: same ak under 1e-5-degree perturbation
        _, _, ak_p = self._window_aks(
            np.array(cand_lat) + 1e-5, np.array(cand_lng) + 1e-5, res
        )
        pick = np.nonzero((ak >= -23) & (ak <= -2) & (ak == ak_p))[0]
        assert len(pick) > 0, "no below-window candidate point found"
        i = int(pick[0])
        wrap_slot = int(25 + ak[i])          # 0-based slot old code read
        key = (tuple(DEFAULT_BBOX), res)
        hx.jvm_encode_support(DEFAULT_BBOX, res)
        face, orig = hx._SUPPORT_MEMO[key]
        poisoned = dict(orig)
        poisoned[wrap_slot] = next(iter(orig.values()))  # wrap target mapped
        try:
            hx._SUPPORT_MEMO[key] = (face, poisoned)
            # lat/lng as COLUMNS, not literals: constant inputs make
            # every chain step foldable-cheap, so CollapseProject
            # merges the whole Project stack with exponential alias
            # substitution (observed: optimizer pinned >13 min on this
            # one-row plan). Column inputs match the production shape,
            # where the multiply-referenced steps stay attributes.
            df = spark.createDataFrame(
                [(float(cand_lat[i]), float(cand_lng[i]))], "lat double, lng double"
            )
            out = hx.attach_h3_jvm(df, res, DEFAULT_BBOX, lat="lat", lng="lng")
            with pytest.raises(Exception, match="anchor slot|USER_RAISED"):
                out.collect()
        finally:
            hx._SUPPORT_MEMO[key] = (face, orig)
