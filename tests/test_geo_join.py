"""distance_join: exactness vs a quadratic haversine oracle (global
points incl. pole caps + antimeridian), boundary-straddling adversarial
pairs, grid_radius_m decoupling, and an all-JVM plan assertion."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hex2vec_spark.hexlib import geom
from hex2vec_spark.hexlib.geom import haversine_m
from hex2vec_spark.operators.geo_join import (
    bearing_deg_expr,
    distance_join,
    haversine_m_expr,
    knn_join,
    pip_join,
)


@contextlib.contextmanager
def _sql_conf(spark, conf):
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


_NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _points(seed=3, n=800):
    rng = np.random.default_rng(seed)
    lat = np.concatenate(
        [
            rng.uniform(50, 50.2, n // 4),              # dense cluster
            rng.uniform(-85, 85, n // 4),               # global scatter
            rng.uniform(89.5, 90, n // 4) * rng.choice([-1, 1], n // 4),  # pole caps
            rng.uniform(-60, 60, n // 4),
        ]
    )
    lng = np.concatenate(
        [
            rng.uniform(19, 19.3, n // 4),
            rng.uniform(-180, 180, n // 4),
            rng.uniform(-180, 180, n // 4),
            rng.uniform(179.5, 180, n // 4) * rng.choice([-1, 1], n // 4),  # antimeridian
        ]
    )
    return pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lng": lng})


def _oracle_pairs(pdf, radius):
    lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    d = haversine_m(lat[:, None], lng[:, None], lat[None, :], lng[None, :])
    iu = np.triu_indices(len(pdf), 1)
    m = d[iu] <= radius
    return set(zip(iu[0][m].tolist(), iu[1][m].tolist()))


class TestDistanceJoin:
    @pytest.mark.parametrize("radius", [500.0, 5000.0, 50000.0])
    def test_exact_vs_quadratic_oracle(self, spark, radius):
        pdf = _points()
        df = spark.createDataFrame(pdf)
        right = df.select(
            F.col("pid").alias("pid2"), F.col("lat").alias("lat2"), F.col("lng").alias("lng2")
        )
        out = (
            distance_join(df, right, radius, right_lat_col="lat2", right_lng_col="lng2")
            .where(F.col("pid") < F.col("pid2"))
            .select("pid", "pid2", "dist_m")
            .toPandas()
        )
        got = set(zip(out["pid"], out["pid2"]))
        want = _oracle_pairs(pdf, radius)
        assert got == want                       # recall 1 AND precision 1
        assert len(out) == len(got)              # each pair exactly once
        # distances agree with the NumPy haversine
        lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
        p1, p2 = out["pid"].to_numpy(), out["pid2"].to_numpy()
        ref = haversine_m(lat[p1], lng[p1], lat[p2], lng[p2])
        np.testing.assert_allclose(out["dist_m"].to_numpy(), ref, rtol=1e-9)

    def test_boundary_straddlers(self, spark):
        # pairs engineered at 0.90-1.00x radius on random bearings: the
        # regime where a too-small candidate neighborhood loses recall
        rng = np.random.default_rng(11)
        radius, n = 2000.0, 600
        lat1 = rng.uniform(-80, 80, n)
        lng1 = rng.uniform(-180, 180, n)
        d = rng.uniform(0.90, 1.0, n) * radius
        br = rng.uniform(0, 2 * np.pi, n)
        lat2 = lat1 + (d * np.cos(br)) / 111194.93
        lng2 = (lng1 + (d * np.sin(br)) / (111194.93 * np.cos(np.radians(lat1))) + 180) % 360 - 180
        real = haversine_m(lat1, lng1, lat2, lng2)
        keep = real <= radius
        a = pd.DataFrame({"aid": np.arange(keep.sum()), "lat": lat1[keep], "lng": lng1[keep]})
        b = pd.DataFrame({"bid": np.arange(keep.sum()), "lat": lat2[keep], "lng": lng2[keep]})
        out = (
            distance_join(spark.createDataFrame(a), spark.createDataFrame(b), radius)
            .where(F.col("aid") == F.col("bid"))
            .count()
        )
        assert out == int(keep.sum())            # every planted pair found

    def test_grid_radius_decoupling(self, spark):
        # coarser buckets than the match radius: same exact answer
        pdf = _points(seed=9, n=400)
        df = spark.createDataFrame(pdf)
        right = df.select(
            F.col("pid").alias("pid2"), F.col("lat").alias("lat2"), F.col("lng").alias("lng2")
        )
        kw = dict(right_lat_col="lat2", right_lng_col="lng2")
        fine = (
            distance_join(df, right, 3000.0, **kw)
            .where(F.col("pid") < F.col("pid2")).select("pid", "pid2").toPandas()
        )
        coarse = (
            distance_join(df, right, 3000.0, grid_radius_m=25000.0, **kw)
            .where(F.col("pid") < F.col("pid2")).select("pid", "pid2").toPandas()
        )
        assert set(map(tuple, fine.values)) == set(map(tuple, coarse.values))
        with pytest.raises(ValueError):
            distance_join(df, right, 3000.0, grid_radius_m=10.0, **kw)

    def test_plan_all_jvm_one_join(self, spark):
        df = spark.createDataFrame(_points(seed=5, n=40))
        right = df.select(
            F.col("pid").alias("pid2"), F.col("lat").alias("lat2"), F.col("lng").alias("lng2")
        )
        out = distance_join(df, right, 1000.0, right_lat_col="lat2", right_lng_col="lng2")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("Join") >= 1           # one equi-join, no cartesian
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

    def test_knn_join_vs_quadratic_oracle(self, spark):
        pdf = _points(seed=21, n=400)
        df = spark.createDataFrame(pdf)
        right = df.select(
            F.col("pid").alias("pid2"), F.col("lat").alias("lat2"), F.col("lng").alias("lng2")
        )
        k, radius = 3, 20000.0
        out = knn_join(
            df, right, k, radius,
            left_id_cols=["pid"], tiebreak_cols=["pid2"],
            right_lat_col="lat2", right_lng_col="lng2",
            pair_filter=F.col("pid") != F.col("pid2"),
        ).select("pid", "pid2", "knn_rank").toPandas()
        got = set(map(tuple, out.values))
        # quadratic oracle with the same (dist, id) ordering
        lat, lng = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
        d = haversine_m(lat[:, None], lng[:, None], lat[None, :], lng[None, :])
        want = set()
        for i in range(len(pdf)):
            cand = [(d[i, j], j) for j in range(len(pdf)) if j != i and d[i, j] <= radius]
            for r, (_, j) in enumerate(sorted(cand)[:k], start=1):
                want.add((i, j, r))
        assert got == want

    def test_pip_join_vs_quadratic_oracle(self, spark):
        # random convex-ish polygons + points; oracle = quadratic
        # points_in_polygon (same ray-cast kernel, so EXACT equality
        # including on-boundary convention)
        rng = np.random.default_rng(17)
        n_poly, n_pts = 40, 800
        polys = []
        for p in range(n_poly):
            cy = rng.uniform(45.1, 45.9)
            cx = rng.uniform(10.1, 10.9)
            k = rng.integers(3, 9)
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            r = rng.uniform(0.01, 0.08, k)
            polys.append(
                {
                    "obj_id": f"p{p:03d}",
                    "ring_lat": (cy + r * np.sin(ang)).tolist(),
                    "ring_lng": (cx + r * np.cos(ang)).tolist(),
                }
            )
        pts = pd.DataFrame(
            {
                "pid": np.arange(n_pts),
                "lat": rng.uniform(45.0, 46.0, n_pts),
                "lng": rng.uniform(10.0, 11.0, n_pts),
            }
        )
        out = pip_join(
            spark.createDataFrame(pts), spark.createDataFrame(pd.DataFrame(polys)),
            cell_deg=0.05,
        ).select("pid", "obj_id").toPandas()
        got = set(map(tuple, out.values))
        want = set()
        for poly in polys:
            inside = geom.points_in_polygon(
                pts["lat"].to_numpy(), pts["lng"].to_numpy(),
                np.asarray(poly["ring_lat"]), np.asarray(poly["ring_lng"]),
            )
            for pid in pts["pid"].to_numpy()[inside]:
                want.add((pid, poly["obj_id"]))
        assert got == want
        assert len(out) == len(got)  # each containment exactly once

    def test_pip_join_cell_size_invariance(self, spark):
        rng = np.random.default_rng(8)
        polys = pd.DataFrame(
            {
                "obj_id": ["a", "b"],
                "ring_lat": [[45.1, 45.4, 45.4, 45.1], [45.3, 45.6, 45.6, 45.3]],
                "ring_lng": [[10.1, 10.1, 10.5, 10.5], [10.4, 10.4, 10.8, 10.8]],
            }
        )
        pts = pd.DataFrame(
            {
                "pid": np.arange(300),
                "lat": rng.uniform(45.0, 45.7, 300),
                "lng": rng.uniform(10.0, 10.9, 300),
            }
        )
        res = []
        for s in (0.02, 0.1, 0.5):
            out = pip_join(
                spark.createDataFrame(pts), spark.createDataFrame(polys), cell_deg=s
            ).select("pid", "obj_id").toPandas()
            res.append(set(map(tuple, out.values)))
        assert res[0] == res[1] == res[2]
        # overlap region: points inside both polygons appear twice
        both = {p for p, _ in res[0] if (p, "a") in res[0] and (p, "b") in res[0]}
        assert both  # the fixture overlaps by construction

    def test_pip_join_plan_all_jvm_no_checkpoint(self, spark):
        # design claim pinned: one all-JVM plan — bucket equi-join, ray-
        # cast filter, part dedup. No Python node, no checkpoint (its
        # LogicalRDD would add to the inputs' own), and the bucket join
        # shuffles both sides unless broadcast_polys=True
        polys = spark.createDataFrame(pd.DataFrame(
            {
                "obj_id": ["a"],
                "ring_lat": [[45.1, 45.4, 45.4, 45.1]],
                "ring_lng": [[10.1, 10.1, 10.5, 10.5]],
            }
        ))
        pts = spark.createDataFrame(
            pd.DataFrame({"pid": [1, 2], "lat": [45.2, 45.9], "lng": [10.2, 10.9]})
        )

        def rdds(df):
            return df._jdf.queryExecution().optimizedPlan().toString().count("LogicalRDD")

        with _sql_conf(spark, _NO_AUTO_BROADCAST):
            for bc in (False, True):
                out = pip_join(pts, polys, broadcast_polys=bc)
                opt = out._jdf.queryExecution().optimizedPlan().toString()
                for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
                    assert node not in opt
                assert rdds(out) == rdds(pts) + rdds(polys)
                phys = out._jdf.queryExecution().executedPlan().toString()
                assert ("BroadcastHashJoin" in phys) == bc
                assert ("SortMergeJoin" in phys) == (not bc)
                assert {r["pid"] for r in out.collect()} == {1}

    def test_pip_join_hot_bucket_skew_split(self, spark):
        # planted hot bucket: 3x10^5 points in ONE cell_deg cell inside
        # one ring, plus background. With auto-broadcast off the bucket
        # join is a SortMergeJoin and AQE's skew-join splits the hot
        # bucket's partition — the job the removed hand-built salt did.
        # Thresholds scaled to the fixture: the hot partition is ~10 MB,
        # below the 64 MB default advisory size a split aims for.
        rng = np.random.default_rng(41)
        n_hot, n_bg = 300_000, 20_000
        lat = np.concatenate([rng.uniform(45.21, 45.29, n_hot), rng.uniform(44.0, 47.0, n_bg)])
        lng = np.concatenate([rng.uniform(10.21, 10.29, n_hot), rng.uniform(9.0, 12.0, n_bg)])
        pts = pd.DataFrame({"pid": np.arange(n_hot + n_bg), "lat": lat, "lng": lng})
        rings = [("hot", [45.0, 45.0, 45.5, 45.5], [10.0, 10.5, 10.5, 10.0])]
        for p in range(30):
            cy, cx = rng.uniform(44.2, 46.8), rng.uniform(9.2, 11.8)
            ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
            r = rng.uniform(0.05, 0.2, 6)
            rings.append((f"p{p:02d}", (cy + r * np.sin(ang)).tolist(),
                          (cx + r * np.cos(ang)).tolist()))
        polys = pd.DataFrame(rings, columns=["obj_id", "ring_lat", "ring_lng"])
        conf = {
            **_NO_AUTO_BROADCAST,
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        }
        with _sql_conf(spark, conf):
            out = pip_join(
                spark.createDataFrame(pts), spark.createDataFrame(polys), cell_deg=0.1
            ).select("pid", "obj_id")
            got = set(map(tuple, out.toPandas().values))
            plan = out._jdf.queryExecution().executedPlan().toString()
        want = set()
        for oid, rla, rlg in rings:
            inside = geom.points_in_polygon(
                lat, lng, np.asarray(rla), np.asarray(rlg)
            )
            want |= {(pid, oid) for pid in pts["pid"].to_numpy()[inside]}
        assert got == want and len(want) > n_hot
        assert "SortMergeJoin(skew=true)" in plan

    def test_convex_hull_vs_bruteforce(self, spark):
        from hex2vec_spark.operators.geo_join import convex_hull

        rng = np.random.default_rng(29)
        frames = []
        for g in ("a", "b"):
            n = 60
            frames.append(
                pd.DataFrame(
                    {
                        "g": g,
                        "lat": rng.uniform(45, 46, n),
                        "lng": rng.uniform(10, 11, n),
                    }
                )
            )
        # degenerate groups: single point, collinear triple
        frames.append(pd.DataFrame({"g": "single", "lat": [45.5], "lng": [10.5]}))
        frames.append(
            pd.DataFrame({"g": "line", "lat": [45.0, 45.1, 45.2], "lng": [10.0, 10.1, 10.2]})
        )
        pdf = pd.concat(frames, ignore_index=True)
        out = (
            convex_hull(spark.createDataFrame(pdf), ["g"])
            .orderBy("g")
            .toPandas()
            .set_index("g")
        )

        def brute_hull_vertices(pts):
            # (i, j) is a hull edge iff all points lie on one side
            n = len(pts)
            verts = set()
            for i in range(n):
                for j in range(n):
                    if i == j:
                        continue
                    d = pts - pts[i]
                    cr = np.cross(pts[j] - pts[i], d)
                    if (cr >= -1e-12).all() or (cr <= 1e-12).all():
                        verts.add(i)
                        verts.add(j)
            return {tuple(pts[k]) for k in verts}

        for g in ("a", "b"):
            pts = pdf[pdf["g"] == g][["lng", "lat"]].to_numpy()
            want = brute_hull_vertices(pts)
            got = set(zip(out.loc[g, "hull_lng"], out.loc[g, "hull_lat"]))
            assert got == want
            # CCW orientation: positive signed area
            hl = np.array(out.loc[g, "hull_lng"])
            ha = np.array(out.loc[g, "hull_lat"])
            area2 = np.sum(hl * np.roll(ha, -1) - np.roll(hl, -1) * ha)
            assert area2 > 0
        assert out.loc["single", "n_hull"] == 1
        assert out.loc["line", "n_hull"] == 2

    def test_destination_roundtrip(self, spark):
        # destination then measure back: haversine == distance and
        # initial bearing == bearing (the three geodesy exprs are
        # mutually inverse)
        from hex2vec_spark.operators.geo_join import destination_expr

        rng = np.random.default_rng(41)
        pdf = pd.DataFrame(
            {
                "lat": rng.uniform(-75, 75, 400),
                "lng": rng.uniform(-180, 180, 400),
                "brg": rng.uniform(0, 360, 400),
                "d": rng.uniform(10, 500_000, 400),
            }
        )
        out = (
            spark.createDataFrame(pdf)
            .select(
                "*",
                destination_expr(F.col("lat"), F.col("lng"), F.col("brg"), F.col("d")).alias("p"),
            )
            .select(
                "brg", "d",
                haversine_m_expr(
                    F.col("lat"), F.col("lng"), F.col("p.lat"), F.col("p.lng")
                ).alias("d_back"),
                F.pmod(
                    bearing_deg_expr(F.col("lat"), F.col("lng"), F.col("p.lat"), F.col("p.lng"))
                    - F.col("brg") + F.lit(180.0),
                    F.lit(360.0),
                ).alias("brg_diff_shifted"),
            )
            .toPandas()
        )
        np.testing.assert_allclose(out["d_back"], out["d"], rtol=1e-9)
        np.testing.assert_allclose(out["brg_diff_shifted"], 180.0, atol=1e-6)

    def test_destination_pole_landing_no_nan(self, spark):
        # exact pole landings push the FP asin argument to 1 + 1ulp;
        # the clamp must yield lat ~ 90, never NaN (review finding)
        from hex2vec_spark.operators.geo_join import destination_expr

        R = 6_371_008.8
        rng = np.random.default_rng(13)
        lat = rng.uniform(60, 89, 200)
        d = np.radians(90.0 - lat) * R  # exactly to the north pole
        pdf = pd.DataFrame(
            {"lat": lat, "lng": rng.uniform(-180, 180, 200), "brg": 0.0, "d": d}
        )
        out = (
            spark.createDataFrame(pdf)
            .select(
                destination_expr(F.col("lat"), F.col("lng"), F.col("brg"), F.col("d")).alias("p")
            )
            .select(F.col("p.lat").alias("la"))
            .toPandas()["la"]
            .to_numpy()
        )
        assert not np.isnan(out).any()
        np.testing.assert_allclose(out, 90.0, atol=1e-6)

    def test_haversine_expr_matches_numpy(self, spark):
        rng = np.random.default_rng(2)
        pdf = pd.DataFrame(
            {
                "la1": rng.uniform(-89, 89, 300), "lo1": rng.uniform(-180, 180, 300),
                "la2": rng.uniform(-89, 89, 300), "lo2": rng.uniform(-180, 180, 300),
            }
        )
        got = (
            spark.createDataFrame(pdf)
            .select(
                haversine_m_expr(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("d")
            )
            .toPandas()["d"]
            .to_numpy()
        )
        want = haversine_m(pdf["la1"], pdf["lo1"], pdf["la2"], pdf["lo2"])
        np.testing.assert_allclose(np.sort(got), np.sort(want), rtol=1e-12)


class TestReservedNameGuards:
    """Round-5 advisor fixes: output columns that already exist in an
    input raise instead of being silently replaced."""

    def test_distance_join_rejects_existing_dist_col(self, spark):
        pdf = _points(n=8)
        sdf = spark.createDataFrame(pdf.assign(dist_m=1.0))
        clean = spark.createDataFrame(pdf)
        with pytest.raises(ValueError, match="dist_m"):
            distance_join(sdf, clean, 1000.0)
        with pytest.raises(ValueError, match="dist_m"):
            distance_join(clean, sdf, 1000.0)

    def test_knn_join_rejects_existing_rank_col(self, spark):
        pdf = _points(n=8)
        sdf = spark.createDataFrame(pdf.assign(knn_rank=0))
        clean = spark.createDataFrame(pdf)
        with pytest.raises(ValueError, match="knn_rank"):
            knn_join(sdf, clean, 1, 1000.0, ["pid"], ["pid_r"])

    def test_pip_join_rejects_existing_poly_id_col(self, spark):
        pts = spark.createDataFrame(_points(n=8).assign(obj_id="x"))
        polys = spark.createDataFrame(
            pd.DataFrame(
                {"obj_id": ["p"], "ring_lat": [[0.0, 0.0, 1.0, 1.0]],
                 "ring_lng": [[0.0, 1.0, 1.0, 0.0]]}
            )
        )
        with pytest.raises(ValueError, match="obj_id"):
            pip_join(pts, polys)

    def test_antimeridian_ring_raises(self, spark):
        """A ring spanning >=180 deg of longitude raises with the
        split-at-180 instruction instead of exploding globe-wide."""
        from pyspark.errors import PySparkRuntimeError
        from py4j.protocol import Py4JJavaError

        pts = spark.createDataFrame(_points(n=8))
        polys = spark.createDataFrame(
            pd.DataFrame(
                {"obj_id": ["p"], "ring_lat": [[0.0, 0.0, 1.0, 1.0]],
                 "ring_lng": [[-179.5, 179.5, 179.5, -179.5]]}
            )
        )
        with pytest.raises((PySparkRuntimeError, Py4JJavaError, Exception)) as ei:
            pip_join(pts, polys).collect()
        assert "antimeridian" in str(ei.value) or "split the ring" in str(ei.value)


class TestInteriorRings:
    """Round-5: polygons with holes (interior rings) across the PIP
    family — the reference's gpd.sjoin handles shapely interiors
    (make_dataset.py:96-99). Oracles are pure rectangle algebra
    (axis-aligned rings), fully independent of the ray-cast kernel."""

    @staticmethod
    def _rect(la0, la1, lg0, lg1):
        return [la0, la0, la1, la1], [lg0, lg1, lg1, lg0]

    def _fixture(self):
        # polygon A: donut (hole in the middle); polygon B: two holes;
        # polygon C: hole-free; polygon D: MultiPolygon, one part holed
        rows = []
        ela, elg = self._rect(40.0, 41.0, 15.0, 16.0)
        h1a, h1g = self._rect(40.3, 40.7, 15.3, 15.7)
        rows.append({"obj_id": "A", "ring_lat": ela, "ring_lng": elg,
                     "holes_lat": [h1a], "holes_lng": [h1g]})
        ela, elg = self._rect(41.2, 42.2, 15.0, 16.0)
        h2a, h2g = self._rect(41.3, 41.5, 15.1, 15.4)
        h3a, h3g = self._rect(41.8, 42.0, 15.6, 15.9)
        rows.append({"obj_id": "B", "ring_lat": ela, "ring_lng": elg,
                     "holes_lat": [h2a, h3a], "holes_lng": [h2g, h3g]})
        ela, elg = self._rect(40.0, 41.0, 16.2, 17.2)
        rows.append({"obj_id": "C", "ring_lat": ela, "ring_lng": elg,
                     "holes_lat": None, "holes_lng": None})
        ela, elg = self._rect(41.2, 41.6, 16.2, 16.8)
        h4a, h4g = self._rect(41.3, 41.4, 16.4, 16.6)
        rows.append({"obj_id": "D", "ring_lat": ela, "ring_lng": elg,
                     "holes_lat": [h4a], "holes_lng": [h4g]})
        ela, elg = self._rect(41.8, 42.2, 16.2, 16.8)
        rows.append({"obj_id": "D", "ring_lat": ela, "ring_lng": elg,
                     "holes_lat": None, "holes_lng": None})
        return pd.DataFrame(rows)

    @staticmethod
    def _in_rect(la, lg, ring_lat, ring_lng):
        return (
            (la > min(ring_lat)) & (la < max(ring_lat))
            & (lg > min(ring_lng)) & (lg < max(ring_lng))
        )

    def _oracle(self, pts, polys_pdf):
        la, lg = pts["lat"].to_numpy(), pts["lng"].to_numpy()
        want = set()
        for _, row in polys_pdf.iterrows():
            inside = self._in_rect(la, lg, row["ring_lat"], row["ring_lng"])
            if row["holes_lat"] is not None:
                for ha, hg in zip(row["holes_lat"], row["holes_lng"]):
                    inside &= ~self._in_rect(la, lg, ha, hg)
            for pid in pts.loc[inside, "pid"]:
                want.add((int(pid), row["obj_id"]))
        return want

    def test_pip_join_donut_vs_rectangle_oracle(self, spark):
        rng = np.random.default_rng(5)
        n = 4000
        pts = pd.DataFrame({
            "pid": np.arange(n),
            "lat": rng.uniform(39.8, 42.4, n),
            "lng": rng.uniform(14.8, 17.4, n),
        })
        polys_pdf = self._fixture()
        polys = spark.createDataFrame(
            polys_pdf,
            schema="obj_id string, ring_lat array<double>, ring_lng array<double>, "
                   "holes_lat array<array<double>>, holes_lng array<array<double>>",
        )
        got = pip_join(spark.createDataFrame(pts), polys, cell_deg=0.3)
        got_set = {(int(r["pid"]), r["obj_id"]) for r in got.collect()}
        want = self._oracle(pts, polys_pdf)
        assert got_set == want
        # holes actually bite: some points are inside an exterior but in a hole
        no_holes = polys_pdf.assign(holes_lat=None, holes_lng=None)
        assert len(self._oracle(pts, no_holes)) > len(want)

    def test_pip_join_without_hole_columns_unchanged(self, spark):
        """A polygon side with NO hole columns takes the identical code
        path as before (has_holes False) and matches the rectangle oracle."""
        rng = np.random.default_rng(6)
        n = 1500
        pts = pd.DataFrame({
            "pid": np.arange(n),
            "lat": rng.uniform(39.8, 42.4, n),
            "lng": rng.uniform(14.8, 17.4, n),
        })
        polys_pdf = self._fixture().drop(columns=["holes_lat", "holes_lng"])
        polys = spark.createDataFrame(
            polys_pdf,
            schema="obj_id string, ring_lat array<double>, ring_lng array<double>",
        )
        got = pip_join(spark.createDataFrame(pts), polys, cell_deg=0.3)
        got_set = {(int(r["pid"]), r["obj_id"]) for r in got.collect()}
        want = self._oracle(pts, polys_pdf.assign(holes_lat=None, holes_lng=None))
        assert got_set == want

    def test_points_in_polygon_with_holes_xor(self):
        ext_la, ext_lg = map(np.asarray, self._rect(0.0, 10.0, 0.0, 10.0))
        h_la, h_lg = map(np.asarray, self._rect(3.0, 7.0, 3.0, 7.0))
        rng = np.random.default_rng(0)
        pla, plg = rng.uniform(-1, 11, 3000), rng.uniform(-1, 11, 3000)
        got = geom.points_in_polygon_with_holes(pla, plg, ext_la, ext_lg, [(h_la, h_lg)])
        want = self._in_rect(pla, plg, ext_la, ext_lg) & ~self._in_rect(pla, plg, h_la, h_lg)
        assert (got == want).all()


class TestBroadcastRight:
    """Round-5: broadcast_right flips the explosion onto the dim-sized
    right side; results must equal the shuffle path exactly and the
    fact side must not shuffle."""

    def test_equals_shuffle_path(self, spark):
        pdf = _points(n=600)  # incl. pole caps + antimeridian straddlers
        left = spark.createDataFrame(pdf)
        right = spark.createDataFrame(
            pdf.sample(n=120, random_state=7).rename(
                columns={"pid": "rid", "lat": "rlat", "lng": "rlng"}
            )
        )
        kw = dict(right_lat_col="rlat", right_lng_col="rlng")
        for radius in (2_000.0, 300_000.0):
            a = {
                (int(r["pid"]), int(r["rid"]), round(r["dist_m"], 6))
                for r in distance_join(left, right, radius, **kw).collect()
            }
            b = {
                (int(r["pid"]), int(r["rid"]), round(r["dist_m"], 6))
                for r in distance_join(
                    left, right, radius, broadcast_right=True, **kw
                ).collect()
            }
            assert a == b and len(a) > 0

    def test_plan_no_shuffle_on_fact_side(self, spark):
        pdf = _points(n=100)
        left = spark.createDataFrame(pdf)
        right = spark.createDataFrame(
            pdf.iloc[:20].rename(columns={"pid": "rid", "lat": "rlat", "lng": "rlng"})
        )
        out = distance_join(
            left, right, 5_000.0, right_lat_col="rlat", right_lng_col="rlng",
            broadcast_right=True,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_knn_join_broadcast_equals_shuffle(self, spark):
        pdf = _points(n=400)
        left = spark.createDataFrame(pdf)
        right = spark.createDataFrame(
            pdf.sample(n=80, random_state=3).rename(
                columns={"pid": "rid", "lat": "rlat", "lng": "rlng"}
            )
        )
        kw = dict(
            left_id_cols=["pid"], tiebreak_cols=["rid"],
            right_lat_col="rlat", right_lng_col="rlng",
        )
        a = {
            (int(r["pid"]), int(r["rid"]), int(r["knn_rank"]))
            for r in knn_join(left, right, 3, 500_000.0, **kw).collect()
        }
        b = {
            (int(r["pid"]), int(r["rid"]), int(r["knn_rank"]))
            for r in knn_join(
                left, right, 3, 500_000.0, broadcast_right=True, **kw
            ).collect()
        }
        assert a == b and len(a) > 0


class TestKnnJoinFull:
    def test_full_coverage_vs_quadratic_oracle(self, spark):
        """Radius-doubling retry: every left row gets its TRUE global
        top-k even when the initial radius misses it (isolated points)."""
        from hex2vec_spark.operators.geo_join import knn_join_full

        rng = np.random.default_rng(9)
        # dense cluster + a few isolated points hundreds of km away
        lat = np.concatenate([rng.uniform(50.0, 50.1, 150), [55.0, -20.0, 52.5]])
        lng = np.concatenate([rng.uniform(19.0, 19.1, 150), [30.0, 100.0, 25.0]])
        pdf = pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lng": lng})
        left = spark.createDataFrame(pdf)
        right = spark.createDataFrame(
            pdf.rename(columns={"pid": "rid", "lat": "rlat", "lng": "rlng"})
        )
        k = 3
        got = knn_join_full(
            left, right, k, 500.0,
            left_id_cols=["pid"], tiebreak_cols=["rid"],
            right_lat_col="rlat", right_lng_col="rlng",
            max_doublings=16,  # 500m * 2^16 = 32,768 km > any geodesic
            pair_filter=F.col("pid") != F.col("rid"),
        ).collect()
        got_set = {(int(r["pid"]), int(r["rid"]), int(r["knn_rank"])) for r in got}
        # quadratic oracle
        d = haversine_m(lat[:, None], lng[:, None], lat[None, :], lng[None, :])
        want = set()
        for i in range(len(lat)):
            order = sorted((d[i, j], j) for j in range(len(lat)) if j != i)[:k]
            for rank, (_, j) in enumerate(order, start=1):
                want.add((i, j, rank))
        assert got_set == want
        # full coverage: every left id present
        assert {p for p, _, _ in got_set} == set(range(len(lat)))

    def test_partial_results_kept_when_budget_exhausted(self, spark):
        from hex2vec_spark.operators.geo_join import knn_join_full

        pdf = pd.DataFrame(
            {"pid": [0, 1, 2], "lat": [50.0, 50.001, 70.0], "lng": [19.0, 19.0, 100.0]}
        )
        left = spark.createDataFrame(pdf)
        right = spark.createDataFrame(
            pdf.rename(columns={"pid": "rid", "lat": "rlat", "lng": "rlng"})
        )
        got = knn_join_full(
            left, right, 2, 1000.0,
            left_id_cols=["pid"], tiebreak_cols=["rid"],
            right_lat_col="rlat", right_lng_col="rlng",
            max_doublings=2,  # max radius 4 km: pid 2 stays isolated
            pair_filter=F.col("pid") != F.col("rid"),
        ).toPandas()
        # pids 0/1 found each other (1 neighbor each, k=2 -> partial kept)
        assert set(got["pid"]) == {0, 1}
        assert len(got) == 2


class TestConvexHullScale:
    def test_reduce_cell_res_million_points_and_guard(self, spark):
        """A 10^6-point group hulls in seconds via the enforced
        distinct-cell reduction; without it max_group_rows raises."""
        import time
        from hex2vec_spark.operators.geo_join import convex_hull

        rng = np.random.default_rng(2)
        n = 1_000_000
        pdf = pd.DataFrame({
            "g": np.zeros(n, dtype=np.int64),
            "lat": rng.uniform(41.0, 41.5, n),
            "lng": rng.uniform(15.0, 15.5, n),
        })
        sdf = spark.createDataFrame(pdf)
        t0 = time.perf_counter()
        out = convex_hull(sdf, ["g"], reduce_cell_res=7).collect()
        dt = time.perf_counter() - t0
        assert len(out) == 1
        row = out[0]
        assert row["n_points"] == n  # weights preserve the raw count
        assert row["n_hull"] >= 3 and row["hull_area_m2"] > 0
        assert dt < 60.0
        # hull of cell centers contains ~the same extent: area within
        # one res-7 cell radius band of the exact bbox-ish area
        # (loose sanity: within 20% of the no-reduction hull on a sample)
        small = convex_hull(
            spark.createDataFrame(pdf.iloc[:20000]), ["g"]
        ).collect()[0]
        assert abs(row["hull_area_m2"] - small["hull_area_m2"]) / small["hull_area_m2"] < 0.2

        with pytest.raises(Exception, match="max_group_rows"):
            convex_hull(sdf, ["g"], max_group_rows=10_000).collect()


class TestPipExpr:
    """Round-5 JVM PIP expressions: bit-identical predicates vs the
    NumPy ray-cast kernel on randomized rings and points."""

    def test_single_ring_matches_numpy_kernel(self, spark):
        from hex2vec_spark.functions.geo_expr import point_in_ring_expr

        rng = np.random.default_rng(23)
        rows = []
        for r in range(20):  # irregular star-convex rings, 5-12 vertices
            nv = rng.integers(5, 13)
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rng.uniform(0.2, 1.0, nv)
            c_la, c_lg = rng.uniform(-60, 60), rng.uniform(-170, 170)
            rla = (c_la + rad * np.sin(ang)).tolist()
            rlg = (c_lg + rad * np.cos(ang)).tolist()
            for _ in range(50):
                la = c_la + rng.uniform(-1.2, 1.2)
                lg = c_lg + rng.uniform(-1.2, 1.2)
                rows.append((la, lg, rla, rlg))
        pdf = pd.DataFrame(rows, columns=["lat", "lng", "rla", "rlg"])
        sdf = spark.createDataFrame(pdf)
        got = (
            sdf.select(
                point_in_ring_expr(
                    F.col("lat"), F.col("lng"), F.col("rla"), F.col("rlg")
                ).alias("inside")
            )
            .toPandas()["inside"]
            .to_numpy()
        )
        want = np.array([
            geom.points_in_polygon(
                np.array([r.lat]), np.array([r.lng]),
                np.array(r.rla), np.array(r.rlg),
            )[0]
            for r in pdf.itertuples()
        ])
        assert (got == want).all()
        assert want.any() and not want.all()  # both classes exercised

    def test_holes_expr_matches_numpy_kernel(self, spark):
        from hex2vec_spark.functions.geo_expr import point_in_polygon_with_holes_expr

        rng = np.random.default_rng(29)
        ext_la = [0.0, 0.0, 10.0, 10.0]
        ext_lg = [0.0, 10.0, 10.0, 0.0]
        h1 = ([2.0, 2.0, 4.0, 4.0], [2.0, 4.0, 4.0, 2.0])
        h2 = ([6.0, 6.0, 8.5, 8.5], [5.0, 9.0, 9.0, 5.0])
        pts = pd.DataFrame({
            "lat": rng.uniform(-1, 11, 800), "lng": rng.uniform(-1, 11, 800),
        })
        cases = [
            (None, None),                             # hole-free
            ([h1[0]], [h1[1]]),                       # one hole
            ([h1[0], h2[0]], [h1[1], h2[1]]),         # two holes
        ]
        for hla, hlg in cases:
            pdf = pts.assign(
                rla=[ext_la] * len(pts), rlg=[ext_lg] * len(pts),
                hla=[hla] * len(pts), hlg=[hlg] * len(pts),
            )
            sdf = spark.createDataFrame(
                pdf,
                schema="lat double, lng double, rla array<double>, "
                       "rlg array<double>, hla array<array<double>>, "
                       "hlg array<array<double>>",
            )
            got = (
                sdf.select(
                    point_in_polygon_with_holes_expr(
                        F.col("lat"), F.col("lng"), F.col("rla"), F.col("rlg"),
                        F.col("hla"), F.col("hlg"),
                    ).alias("inside")
                )
                .toPandas()["inside"]
                .to_numpy()
            )
            holes = list(zip(hla, hlg)) if hla else []
            want = geom.points_in_polygon_with_holes(
                pts["lat"].to_numpy(), pts["lng"].to_numpy(),
                np.array(ext_la), np.array(ext_lg),
                [(np.array(a), np.array(b)) for a, b in holes],
            )
            assert (got == want).all()


class TestPipJoinBroadcast:
    def test_broadcast_equals_shuffled_with_holes(self, spark):
        """pip_join broadcast_polys=True == the shuffled plan on the
        interior-ring fixture (incl. MultiPolygon parts + holes)."""
        rng = np.random.default_rng(7)
        n = 2500
        pts = spark.createDataFrame(pd.DataFrame({
            "pid": np.arange(n),
            "lat": rng.uniform(39.8, 42.4, n),
            "lng": rng.uniform(14.8, 17.4, n),
        }))
        polys = spark.createDataFrame(
            TestInteriorRings()._fixture(),
            schema="obj_id string, ring_lat array<double>, ring_lng array<double>, "
                   "holes_lat array<array<double>>, holes_lng array<array<double>>",
        )
        # auto-broadcast off, or the tiny polygon side would be
        # broadcast on both sides of the comparison
        with _sql_conf(spark, _NO_AUTO_BROADCAST):
            a, b = (
                {(int(r["pid"]), r["obj_id"])
                 for r in pip_join(pts, polys, cell_deg=0.3, broadcast_polys=bc).collect()}
                for bc in (False, True)
            )
        assert a == b and len(a) > 0

    def test_plan_all_jvm_no_point_shuffle(self, spark):
        pts = spark.createDataFrame(
            pd.DataFrame({"pid": [1], "lat": [41.0], "lng": [15.5]})
        )
        polys = spark.createDataFrame(pd.DataFrame({
            "obj_id": ["p"], "ring_lat": [[40.0, 40.0, 42.0, 42.0]],
            "ring_lng": [[15.0, 16.0, 16.0, 15.0]],
        }))
        out = pip_join(pts, polys, cell_deg=0.5, broadcast_polys=True, dedupe_parts=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestBkeyPackingGuards:
    def test_sub_1cm_radius_raises(self, spark):
        # round-6 advisor fix: the guard covers BOTH packed halves —
        # bands (< 2^31) and the equatorial index count (< 2^32 needs
        # g >= 2*pi*R/2^32 ~ 9.33 mm, so 5 mm was not enough)
        pdf = _points(n=6)
        sdf = spark.createDataFrame(pdf)
        with pytest.raises(ValueError, match="1 cm"):
            distance_join(sdf, sdf, 0.001)
        with pytest.raises(ValueError, match="1 cm"):
            distance_join(sdf, sdf, 0.006)

    def test_tiny_cell_deg_raises(self, spark):
        pts = spark.createDataFrame(_points(n=6))
        polys = spark.createDataFrame(
            pd.DataFrame({"obj_id": ["p"], "ring_lat": [[0.0, 0.0, 1.0, 1.0]],
                          "ring_lng": [[0.0, 1.0, 1.0, 0.0]]})
        )
        with pytest.raises(ValueError, match="1e-7"):
            pip_join(pts, polys, cell_deg=1e-8)
