"""Pipeline golden tests: the Spark engine vs a pandas oracle that
mirrors the reference semantics step by step (SURVEY.md §5.3):

    load_city_tag  (split ';' -> explode -> strip; load_data.py:42-44)
    add_h3_indices (spatial join -> (osmid, tag, h3); make_dataset.py:96-120)
    group_city_tags(pivot + groupby(h3).sum(); make_dataset.py:143-172)

The oracle shares the hexlib kernels (no independent H3 exists in this
container) but executes on a completely different path — single-threaded
pandas vs distributed Arrow UDFs, broadcast joins and salted shuffles —
so it verifies all Spark plumbing: partitioning, batching, join and agg
semantics. Join output rows and tile assignments must match EXACTLY
(north_rule), captions byte-equal, decoded pixels PSNR >= 40 dB.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hex2vec_spark.functions.h3_fns import geotag_np
from hex2vec_spark.hexlib import h3core, image as im
from hex2vec_spark.operators.agg import hex_features
from hex2vec_spark.operators.spatial import build_tiling, spatial_join, assign_h3
from hex2vec_spark.sources.synth import images_pandas, images_table, regions_pandas

N = 1500
RES = 8


@pytest.fixture(scope="module")
def oracle_images():
    return images_pandas(N)


@pytest.fixture(scope="module")
def tiling():
    return build_tiling(regions_pandas(), res=RES)


def oracle_assignments(images_pdf: pd.DataFrame, tiling_pdf: pd.DataFrame) -> pd.DataFrame:
    lat, lng = geotag_np(images_pdf["phash"].to_numpy())
    h3 = h3core.encode(lat, lng, RES).view(np.int64)
    pts = images_pdf[["image_id", "caption"]].copy()
    pts["h3"] = h3
    return pts.merge(tiling_pdf, on="h3", how="inner")


def oracle_hex_features(assign_pdf: pd.DataFrame) -> pd.DataFrame:
    rows = assign_pdf.copy()
    rows["feature"] = rows["caption"].str.split(";")
    rows = rows.explode("feature")
    rows["feature"] = rows["feature"].str.strip()
    rows = rows[rows["feature"] != ""]
    out = rows.groupby(["h3", "feature"]).size().reset_index(name="count")
    out["count"] = out["count"].astype(float)
    return out


class TestSynthDeterminism:
    def test_distributed_generation_matches_pandas(self, spark, oracle_images):
        sdf = images_table(spark, N, num_partitions=7).orderBy("image_id").toPandas()
        ref = oracle_images.sort_values("image_id").reset_index(drop=True)
        assert list(sdf["image_id"]) == list(ref["image_id"])
        # caption byte-equality per row (input_hint invariant)
        assert (sdf["caption"].to_numpy() == ref["caption"].to_numpy()).all()
        assert (sdf["phash"].to_numpy() == ref["phash"].to_numpy()).all()
        # bytes identical
        assert all(bytes(a) == bytes(b) for a, b in zip(sdf["bytes"], ref["bytes"]))

    def test_decoded_pixels_psnr(self, oracle_images):
        for _, row in oracle_images.head(50).iterrows():
            px = im.decode_image(bytes(row["bytes"]), row["fmt"])
            back = im.png_decode(im.png_encode(px))
            assert im.psnr(px, back) >= 40.0  # lossless here: inf


class TestSpatialJoinExact:
    def test_join_rows_exact(self, spark, oracle_images, tiling):
        ora = oracle_assignments(oracle_images, tiling)
        eng = (
            spatial_join(images_table(spark, N), spark.createDataFrame(tiling), res=RES)
            .select("image_id", "h3", "region_id")
            .toPandas()
        )
        key = lambda d: sorted(map(tuple, d[["image_id", "h3", "region_id"]].to_numpy()))
        assert key(eng) == key(ora[["image_id", "h3", "region_id"]])

    def test_hot_cells_present(self, spark, oracle_images):
        # skew realism: the 3 Zipfian hot cells dominate (FIXTURES.md §1)
        lat, lng = geotag_np(oracle_images["phash"].to_numpy())
        cells = h3core.encode(lat, lng, RES)
        counts = pd.Series(cells).value_counts()
        assert counts.iloc[0] > 0.10 * N


class TestAggregation:
    def test_hex_features_exact(self, spark, oracle_images, tiling):
        ora = oracle_hex_features(oracle_assignments(oracle_images, tiling))
        joined = spatial_join(images_table(spark, N), spark.createDataFrame(tiling), res=RES)
        eng = hex_features(joined).toPandas()
        key = lambda d: sorted(map(tuple, d[["h3", "feature", "count"]].to_numpy()))
        assert key(eng) == key(ora)


class TestPolygonJoin:
    def test_polygon_join_rows_exact(self, spark, tiling):
        # J1(b): the Spark cover->explode->equi-join must equal the
        # pandas oracle's per-object intersects test against the tiling
        from hex2vec_spark.hexlib import geom
        from hex2vec_spark.operators.spatial import polygon_spatial_join
        from hex2vec_spark.sources.synth import polygon_objects_pandas, polygon_objects_table

        n = 300
        objs_pdf = polygon_objects_pandas(n)
        ora_rows = []
        til_by_cell = tiling.groupby("h3")["region_id"].apply(list)
        for _, row in objs_pdf.iterrows():
            la = np.asarray(row["ring_lat"]) ; ln = np.asarray(row["ring_lng"])
            cand = h3core.cells_covering_bbox(la, ln, RES, pad_cells=1.0)
            verts = h3core.cell_boundary(cand)
            hit = geom.polygons_intersect_hexes(verts[:, :, 0], verts[:, :, 1], la, ln)
            for c in cand[hit].view(np.int64):
                for rid in til_by_cell.get(int(c), []):
                    ora_rows.append((row["obj_id"], int(c), rid))
        eng = (
            polygon_spatial_join(polygon_objects_table(spark, n), spark.createDataFrame(tiling), res=RES)
            .select("obj_id", "h3", "region_id")
            .toPandas()
        )
        got = sorted(map(tuple, eng.to_numpy()))
        assert got == sorted(ora_rows)
        # most objects span >1 cell (the shape J1b exists for)
        per_obj = eng.groupby("obj_id").size()
        assert (per_obj > 1).mean() > 0.5


class TestCoverBatchLatitudes:
    def test_mixed_latitude_batch_matches_scalar(self):
        # one GLOBAL lng sample step must stay safe for every polygon in
        # the batch: deriving it from the max |lat| undersampled
        # low-latitude polygons (up to 75% of cells silently dropped)
        from hex2vec_spark.hexlib import geom

        def scalar_cover(la, ln):
            la, ln = np.asarray(la), np.asarray(ln)
            cand = h3core.cells_covering_bbox(la, ln, 8, pad_cells=1.0)
            verts = h3core.cell_boundary(cand)
            hit = geom.polygons_intersect_hexes(verts[:, :, 0], verts[:, :, 1], la, ln)
            return set(cand[hit].tolist())

        polys = [
            ([0.0, 0.0, 0.05, 0.05], [0.0, 0.06, 0.06, 0.0]),          # equator
            ([-0.03, -0.03, 0.02, 0.02], [5.0, 5.06, 5.06, 5.0]),      # crosses 0
            ([80.0, 80.0, 80.05, 80.05], [10.0, 10.06, 10.06, 10.0]),  # high lat
        ]
        rl = [p[0] for p in polys]
        rg = [p[1] for p in polys]
        p, c = h3core.cover_intersect_batch(rl, rg, 8, pad_cells=1.0)
        got = [set() for _ in rl]
        for pi, ci in zip(p, c):
            got[pi].add(int(ci))
        for i in range(len(polys)):
            assert got[i] == scalar_cover(rl[i], rg[i])


class TestNeighbors:
    def test_context_pairs_match_oracle(self, spark, oracle_images):
        from hex2vec_spark.operators.neighbors import context_pairs

        lat, lng = geotag_np(oracle_images["phash"].to_numpy())
        cells = np.unique(h3core.encode(lat, lng, RES))
        # pandas oracle: k_ring(1) ∩ corpus minus self (h3_neighbor_dataset.py:21-26)
        src, ring = h3core.kring_flat(cells, 1)
        corpus = set(cells.tolist())
        ora = sorted(
            (int(cells[s]), int(c))
            for s, c in zip(src, ring)
            if int(c) != int(cells[s]) and int(c) in corpus
        )
        corpus_sdf = spark.createDataFrame(
            pd.DataFrame({"h3": cells.view(np.int64)})
        )
        eng = context_pairs(corpus_sdf, k=1).toPandas()
        got = sorted(
            (int(np.int64(a)), int(np.int64(b)))
            for a, b in zip(eng["input_h3"].to_numpy().astype(np.int64).view(np.uint64),
                            eng["context_h3"].to_numpy().astype(np.int64).view(np.uint64))
        )
        ora_u = sorted((int(np.int64(a)), int(np.int64(b))) for a, b in
                       ((np.int64(x).view(np.uint64), np.int64(y).view(np.uint64)) for x, y in ora))
        assert got == ora_u


class TestEndToEndBuild:
    def test_build_dataset_matches_oracle(self, spark, oracle_images, tiling, tmp_path):
        from hex2vec_spark.plans.pipeline import build_dataset, load_processed
        from hex2vec_spark.sources.synth import images_table, regions_pandas

        root = str(tmp_path / "ds")
        snap = build_dataset(
            spark, images_table(spark, N), regions_pandas(), root,
            res=RES, n_buckets=4, input_fingerprint="e2e",
        )
        assert snap["id"] == 0 and snap["added_rows"] > 0

        got = load_processed(spark, root).toPandas()
        # the commit's footer walk: rows per h3_p4 dir, summing to added_rows
        per_parent = got.groupby("h3_p4").size()
        assert snap["partition_row_counts"] == {str(k): int(v) for k, v in per_parent.items()}
        assert sum(snap["partition_row_counts"].values()) == snap["added_rows"] == len(got)
        assert [f["name"] for f in snap["schema"]["fields"]] == [
            "region_id", "h3", "feature", "count", "h3_p4"
        ]
        # oracle: per-(region, h3, feature) counts over the exact join rows
        ora = oracle_assignments(oracle_images, tiling)
        ora["feature"] = ora["caption"].str.split(";")
        ora = ora.explode("feature")
        ora["feature"] = ora["feature"].str.strip()
        ora = ora[ora["feature"] != ""]
        ora = (
            ora.groupby(["region_id", "h3", "feature"]).size().reset_index(name="count")
        )
        key = lambda d: sorted(map(tuple, d[["region_id", "h3", "feature", "count"]].astype(
            {"count": float}).to_numpy()))
        assert key(got[["region_id", "h3", "feature", "count"]]) == key(ora)

    def test_build_neighbor_dataset(self, spark, tmp_path):
        from hex2vec_spark.plans.pipeline import build_dataset, build_neighbor_dataset
        from hex2vec_spark.sources.synth import images_table, regions_pandas

        root = str(tmp_path / "nb")
        build_dataset(spark, images_table(spark, 800), regions_pandas(), root,
                      res=RES, n_buckets=2)
        ds = build_neighbor_dataset(spark, root, k=1, n_negatives=2).toPandas()
        assert len(ds) > 0
        # context must be a kring(1) neighbor of input
        for _, r in ds.head(50).iterrows():
            _, ring = h3core.kring_flat(
                np.array([np.int64(r["input_h3"])]).view(np.uint64), 1
            )
            assert np.int64(r["context_h3"]).view(np.uint64) in ring  # type: ignore[operator]
        # negatives (when present) are outside kring(2)
        some = ds[ds["neg_h3s"].notna()].head(20)
        for _, r in some.iterrows():
            _, ring2 = h3core.kring_flat(
                np.array([np.int64(r["input_h3"])]).view(np.uint64), 2
            )
            ring2 = set(ring2.view(np.int64).tolist())
            assert not (set(r["neg_h3s"]) & ring2)

    def test_build_embeddings_end_to_end(self, spark, tmp_path):
        # the full "2vec": features -> neighbor dataset -> SGNS training
        # -> committed embeddings -> read back -> cluster (the reference
        # notebook cells 5 -> 49 as one engine program)
        from hex2vec_spark.operators.cluster import kmeans_fit
        from hex2vec_spark.plans.pipeline import (
            build_dataset, build_embeddings, load_embeddings,
        )
        from hex2vec_spark.sources.iceberg_lite import snapshots
        from hex2vec_spark.sources.synth import images_table, regions_pandas

        root = str(tmp_path / "e2e2vec")
        build_dataset(spark, images_table(spark, 800), regions_pandas(), root,
                      res=RES, n_buckets=2)
        emb = build_embeddings(spark, root, dim=4, n_iter=2, seed=5)
        back = load_embeddings(spark, root)
        a = emb.orderBy("h3").toPandas()
        b = back.orderBy("h3").toPandas()
        assert list(a["h3"]) == list(b["h3"]) and len(a) > 10
        assert all(len(v) == 4 for v in b["embedding"])
        # committed with training metadata in the snapshot log
        snap = snapshots(str(tmp_path / "e2e2vec" / "embeddings"))[-1]
        assert snap["train"]["dim"] == 4 and snap["train"]["final_loss"] is not None
        # downstream clustering consumes the committed table directly
        cents, _ = kmeans_fit(back.withColumnRenamed("h3", "vec_id"), k=3, max_iter=3)
        assert cents.shape == (3, 4) and np.isfinite(cents).all()

    def test_load_processed_filters(self, spark, tmp_path):
        from hex2vec_spark.plans.pipeline import build_dataset, load_processed
        from hex2vec_spark.sources.synth import images_table, regions_pandas

        root = str(tmp_path / "ds2")
        build_dataset(spark, images_table(spark, 500), regions_pandas(), root,
                      res=RES, n_buckets=2)
        sel = load_processed(spark, root, select_regions=["r00", "r01"]).toPandas()
        assert set(sel["region_id"]) <= {"r00", "r01"}
        dropped = load_processed(spark, root, drop_regions=["r00"]).toPandas()
        assert "r00" not in set(dropped["region_id"])
        pref = load_processed(spark, root, feature_prefixes=["ca"]).toPandas()
        assert pref["feature"].str.startswith("ca").all() and len(pref) > 0


class TestNegativeSampling:
    def test_negatives_outside_kring2_and_bounded(self, spark, oracle_images):
        from hex2vec_spark.operators.neighbors import sample_negatives

        lat, lng = geotag_np(oracle_images["phash"].to_numpy())
        cells = np.unique(h3core.encode(lat, lng, RES))
        corpus = spark.createDataFrame(pd.DataFrame({"h3": cells.view(np.int64)}))
        negs = sample_negatives(corpus, n_per_input=2, k_excl=2).toPandas()
        assert len(negs) > 0
        per_input = negs.groupby("input_h3").size()
        assert (per_input <= 2).all()
        # property: every sampled negative is outside k_ring(input, 2)
        for inp, grp in negs.groupby("input_h3"):
            ring = set(
                h3core.kring_flat(np.array([np.int64(inp)]).view(np.uint64), 2)[1]
                .view(np.int64).tolist()
            )
            assert not (set(grp["neg_h3"]) & ring)

    def test_deterministic(self, spark, oracle_images):
        from hex2vec_spark.operators.neighbors import sample_negatives

        lat, lng = geotag_np(oracle_images["phash"].to_numpy()[:500])
        cells = np.unique(h3core.encode(lat, lng, RES))
        corpus = spark.createDataFrame(pd.DataFrame({"h3": cells.view(np.int64)}))
        a = sample_negatives(corpus, n_per_input=2).toPandas()
        b = sample_negatives(corpus, n_per_input=2).toPandas()
        key = lambda d: sorted(map(tuple, d.to_numpy()))
        assert key(a) == key(b)


class TestViz:
    def test_geojson_roundtrip(self, spark, oracle_images):
        import json

        from hex2vec_spark.functions.viz import cells_to_geojson, with_h3_str

        lat, lng = geotag_np(oracle_images["phash"].to_numpy()[:200])
        cells = np.unique(h3core.encode(lat, lng, RES))
        pdf = pd.DataFrame({"h3": cells.view(np.int64), "count": np.arange(len(cells)) * 1.0})
        gj = json.loads(cells_to_geojson(pdf))
        assert gj["type"] == "FeatureCollection" and len(gj["features"]) == len(cells)
        f0 = gj["features"][0]
        ring = f0["geometry"]["coordinates"][0]
        assert ring[0] == ring[-1] and len(ring) == 7  # closed hexagon
        # string id round-trips to the same cell
        back = h3core.string_to_h3(np.array([f0["properties"]["h3"]]))
        assert int(back.view(np.int64)[0]) == int(pdf["h3"].iloc[0])
        # Spark-side presentation column agrees with the kernel
        sdf = with_h3_str(spark.createDataFrame(pdf[["h3"]])).toPandas()
        strs = h3core.h3_to_string(sdf["h3"].to_numpy().astype(np.int64).view(np.uint64))
        assert (sdf["h3_str"].to_numpy() == strs).all()

    def test_kepler_config_structure_and_bundle(self, tmp_path):
        # the config shape the reference saves/reloads around every
        # cluster map (visualization/config.py:8-19; artifact example
        # config/tfidf_kmeans_5.json): one hexagonId layer keyed on the
        # h3 column, quantize color scale, mapState center/zoom
        import json

        from hex2vec_spark.functions.viz import (
            kepler_bundle, kepler_hex_config, load_config, save_config,
        )

        cfg = kepler_hex_config(color_field="cluster", n_classes=5,
                                center=(51.11, 17.02), zoom=9.9)
        assert cfg["version"] == "v1"
        assert set(cfg["config"]) == {"visState", "mapState", "mapStyle"}
        lay = cfg["config"]["visState"]["layers"][0]
        assert lay["type"] == "hexagonId"
        assert lay["config"]["columns"] == {"hex_id": "h3"}
        assert lay["visualChannels"]["colorField"]["name"] == "cluster"
        assert lay["visualChannels"]["colorScale"] == "quantize"
        assert len(lay["config"]["visConfig"]["colorRange"]["colors"]) == 5
        assert cfg["config"]["mapState"]["latitude"] == 51.11
        # save/load round-trip (reference config.py surface)
        p = str(tmp_path / "clusters.json")
        save_config(cfg, p)
        assert load_config(p) == cfg
        assert load_config(str(tmp_path / "missing.json")) is None
        # bundle: kepler.gl-loadable {datasets, config} document
        pdf = pd.DataFrame({"h3": [614716711114899455], "label": [2]})
        b = json.loads(kepler_bundle(pdf, data_id="clusters"))
        assert set(b) == {"datasets", "config"}
        d = b["datasets"][0]
        assert d["info"]["id"] == "clusters"
        assert [f["name"] for f in d["data"]["fields"]] == ["h3", "label"]
        assert d["data"]["rows"] == [[614716711114899455, 2]]
        # auto-centered on the cells
        ms = b["config"]["config"]["mapState"]
        assert abs(ms["latitude"] - (-0.979)) < 0.1


    def test_choropleth_svg_numeric_and_categorical(self, oracle_images):
        # round-4 presentation-edge parity: the reference's visualize_df
        # choropleth (EPSG:3857, value-colored hex polygons, legend,
        # alpha 0.6) as dependency-free SVG. Well-formed XML, one
        # polygon per cell, ramp endpoints hit the viridis extremes.
        import xml.etree.ElementTree as ET

        from hex2vec_spark.functions.viz import choropleth_svg

        lat, lng = geotag_np(oracle_images["phash"].to_numpy()[:300])
        cells = np.unique(h3core.encode(lat, lng, RES))[:40]
        pdf = pd.DataFrame({
            "h3": cells.view(np.int64),
            "count": np.linspace(3.0, 99.0, len(cells)),
            "label": ["a" if i % 2 else "b" for i in range(len(cells))],
        })
        svg = choropleth_svg(pdf, value_col="count")
        root = ET.fromstring(svg)  # well-formed
        ns = "{http://www.w3.org/2000/svg}"
        polys = root.findall(f"{ns}polygon")
        assert len(polys) == len(cells)
        fills = [p.get("fill") for p in polys]
        assert fills[0] == "#440154" and fills[-1] == "#fde725"  # viridis ends
        assert all(p.get("fill-opacity") == "0.6" for p in polys)
        assert "linearGradient" in svg and "99" in svg  # legend + max label

        cat = choropleth_svg(pdf, value_col="label")
        rootc = ET.fromstring(cat)
        cfills = {p.get("fill") for p in rootc.findall(f"{ns}polygon")}
        assert len(cfills) == 2  # one color per category
        assert len(rootc.findall(f"{ns}rect")) == 2  # two swatches

        # review fixes: NaN values render neutral gray instead of
        # crashing; category labels with XML metacharacters escape
        nan_pdf = pdf.copy()
        nan_pdf.loc[nan_pdf.index[1], "count"] = np.nan
        nan_pdf["label"] = ["r&d" if i % 2 else "a<b" for i in range(len(nan_pdf))]
        svg_nan = choropleth_svg(nan_pdf, value_col="count")
        root_nan = ET.fromstring(svg_nan)  # still well-formed
        assert root_nan.findall(f"{ns}polygon")[1].get("fill") == "#cccccc"
        ET.fromstring(choropleth_svg(nan_pdf, value_col="label"))  # escaped

        with pytest.raises(ValueError):
            choropleth_svg(pdf.iloc[:0], value_col="count")



class TestStaleBuckets:
    def test_read_stage_excludes_stale_buckets(self, spark, tmp_path):
        from hex2vec_spark.sources.iceberg_lite import read_stage, run_stage
        from hex2vec_spark.sources.synth import images_table

        src = images_table(spark, 300)

        def transform(df):
            return assign_h3(df, res=RES).select("image_id", "h3")

        out = str(tmp_path / "stage")
        run_stage(spark, src, out, transform, n_buckets=4, input_fingerprint="a")
        # shrink the bucket count with a new fingerprint: buckets 0-1 are
        # rewritten, 2-3 remain on disk from the old run
        run_stage(spark, src, out, transform, n_buckets=2, input_fingerprint="b")
        n_scoped = read_stage(spark, out, n_buckets=2).count()
        n_glob = read_stage(spark, out).count()
        assert n_scoped == 300          # exactly this run's rows
        assert n_glob > n_scoped        # the glob would mix in stale dirs


class TestResume:
    def test_run_stage_resumes(self, spark, tmp_path):
        import json
        from hex2vec_spark.sources.iceberg_lite import run_stage, read_stage, _manifest_path

        src = images_table(spark, 400)

        def transform(df):
            return assign_h3(df, res=RES).select("image_id", "h3")

        out = str(tmp_path / "stage")
        m1 = run_stage(spark, src, out, transform, n_buckets=4, input_fingerprint="fp1")
        assert m1["complete"]
        total1 = read_stage(spark, out).count()
        rows1 = {k: v["rows"] for k, v in m1["buckets"].items()}
        # simulate a mid-job kill: drop two buckets from the manifest
        with open(_manifest_path(out)) as f:
            man = json.load(f)
        secs_kept = {k: man["buckets"][k]["seconds"] for k in ("0", "1")}
        del man["buckets"]["2"], man["buckets"]["3"]
        with open(_manifest_path(out), "w") as f:
            json.dump(man, f)
        m2 = run_stage(spark, src, out, transform, n_buckets=4, input_fingerprint="fp1")
        assert m2["complete"]
        # completed buckets were skipped (their timing entries untouched)
        assert all(m2["buckets"][k]["seconds"] == secs_kept[k] for k in ("0", "1"))
        assert {k: v["rows"] for k, v in m2["buckets"].items()} == rows1
        assert read_stage(spark, out).count() == total1


class TestTableMaintenance:
    def _build(self, spark, tmp_path, n_commits=4):
        from hex2vec_spark.sources.iceberg_lite import commit_table

        root = str(tmp_path / "tbl")
        for i in range(n_commits):
            df = spark.createDataFrame(
                [(i * 10 + j, float(i)) for j in range(5)], "h3 long, v double"
            ).repartition(3)
            commit_table(df, root, mode="append", partition_res=None)
        return root

    def test_compact_preserves_rows_and_shrinks_files(self, spark, tmp_path):
        from hex2vec_spark.sources.iceberg_lite import (
            compact_data_files, data_file_count, read_table, snapshots,
        )

        root = self._build(spark, tmp_path)
        before = sorted(
            (r["h3"], r["v"]) for r in read_table(spark, root).collect()
        )
        nf_before = data_file_count(root)
        snap = compact_data_files(spark, root, target_rows_per_file=100)
        assert snap["compaction"]["rows"] == len(before)
        after = sorted(
            (r["h3"], r["v"]) for r in read_table(spark, root).collect()
        )
        assert after == before
        assert data_file_count(root) < nf_before
        # pre-compaction snapshot still readable
        prev_id = snapshots(root)[-2]["id"]
        old = sorted(
            (r["h3"], r["v"])
            for r in read_table(spark, root, snapshot_id=prev_id).collect()
        )
        assert old == before

    def test_expire_reclaims_only_dead_dirs(self, spark, tmp_path):
        import os

        from hex2vec_spark.sources.iceberg_lite import (
            compact_data_files, expire_snapshots, read_table, snapshots,
        )

        root = self._build(spark, tmp_path)
        full = sorted((r["h3"], r["v"]) for r in read_table(spark, root).collect())
        compact_data_files(spark, root, target_rows_per_file=100)
        res = expire_snapshots(root, keep_last=1)
        # only the compacted snapshot remains; all pre-compaction dirs die
        log = snapshots(root)
        assert [s["id"] for s in log] == res["kept"] and len(log) == 1
        assert len(res["deleted_dirs"]) >= 1
        for d in res["deleted_dirs"]:
            assert not os.path.exists(os.path.join(root, d))
        after = sorted((r["h3"], r["v"]) for r in read_table(spark, root).collect())
        assert after == full

    def test_expire_keeps_shared_dirs(self, spark, tmp_path):
        import os

        from hex2vec_spark.sources.iceberg_lite import expire_snapshots, read_table, snapshots

        root = self._build(spark, tmp_path, n_commits=3)
        # append snapshots SHARE dirs: expiring older appends must not
        # delete dirs the latest snapshot still reads
        res = expire_snapshots(root, keep_last=1)
        assert res["deleted_dirs"] == []
        assert len(snapshots(root)) == 1
        assert read_table(spark, root).count() == 15

    def test_expire_latest_always_kept_and_validation(self, spark, tmp_path):
        import pytest as _pytest

        from hex2vec_spark.sources.iceberg_lite import expire_snapshots, snapshots

        root = self._build(spark, tmp_path, n_commits=2)
        with _pytest.raises(ValueError, match="keep_last"):
            expire_snapshots(root)
        res = expire_snapshots(root, older_than_ts=float("inf"))
        assert res["kept"] == [snapshots(root)[-1]["id"]]


class TestInteriorRingRegions:
    """Round-5: regions with holes through build_tiling and
    strict_region_assign (independent rectangle-algebra oracles — holes
    are axis-aligned rects, so convexity makes 'hex fully inside hole'
    equal 'all 6 vertices inside the rect')."""

    RES = 8
    EXT_LA = [40.6, 40.6, 41.4, 41.4]
    EXT_LG = [14.8, 16.2, 16.2, 14.8]
    HOLE_LA = [40.9, 40.9, 41.1, 41.1]
    HOLE_LG = [15.3, 15.3 + 0.4, 15.3 + 0.4, 15.3]

    def _regions(self, with_hole):
        row = {"region_id": "donut", "part": 0,
               "ring_lat": self.EXT_LA, "ring_lng": self.EXT_LG}
        if with_hole:
            row["holes_lat"] = [self.HOLE_LA]
            row["holes_lng"] = [self.HOLE_LG]
        return pd.DataFrame([row])

    def test_build_tiling_subtracts_hole_swallowed_cells(self):
        from hex2vec_spark.hexlib import h3core
        from hex2vec_spark.operators.spatial import build_tiling

        base = set(build_tiling(self._regions(False), res=self.RES)["h3"])
        holed = set(build_tiling(self._regions(True), res=self.RES)["h3"])
        assert holed < base  # strictly smaller: the hole swallows cells
        removed = np.array(sorted(base - holed), dtype=np.int64).view(np.uint64)
        kept = np.array(sorted(holed), dtype=np.int64).view(np.uint64)
        la0, la1 = min(self.HOLE_LA), max(self.HOLE_LA)
        lg0, lg1 = min(self.HOLE_LG), max(self.HOLE_LG)

        def fully_in_hole(cells):
            v = h3core.cell_boundary(cells)  # (n, 6, 2)
            return (
                (v[:, :, 0] > la0) & (v[:, :, 0] < la1)
                & (v[:, :, 1] > lg0) & (v[:, :, 1] < lg1)
            ).all(axis=1)

        assert fully_in_hole(removed).all()      # only swallowed cells removed
        assert not fully_in_hole(kept).any()     # every swallowed cell removed
        assert len(removed) > 0

    def test_strict_region_assign_excludes_hole_points(self, spark):
        from hex2vec_spark.functions.h3_fns import DEFAULT_BBOX
        from hex2vec_spark.operators.spatial import strict_region_assign

        # invert the geotag convention: phash from (lat, lng)
        rng = np.random.default_rng(17)
        n = 3000
        lat = rng.uniform(40.5, 41.5, n)
        lng = rng.uniform(14.7, 16.3, n)
        lat0, lat1, lng0, lng1 = DEFAULT_BBOX
        lau = np.floor((lat - lat0) / (lat1 - lat0) * 2**32).astype(np.uint64)
        lgu = np.floor((lng - lng0) / (lng1 - lng0) * 2**32).astype(np.uint64)
        phash = ((lau << np.uint64(32)) | lgu).view(np.int64)
        from hex2vec_spark.functions.h3_fns import geotag_np
        glat, glng = geotag_np(phash)  # quantized coordinates the engine sees
        joined = spark.createDataFrame(
            pd.DataFrame({"image_id": np.arange(n), "phash": phash,
                          "region_id": "donut"})
        )
        out = strict_region_assign(joined, self._regions(True), res=self.RES)
        got = set(out.select("image_id").toPandas()["image_id"])
        in_ext = (
            (glat > min(self.EXT_LA)) & (glat < max(self.EXT_LA))
            & (glng > min(self.EXT_LG)) & (glng < max(self.EXT_LG))
        )
        in_hole = (
            (glat > min(self.HOLE_LA)) & (glat < max(self.HOLE_LA))
            & (glng > min(self.HOLE_LG)) & (glng < max(self.HOLE_LG))
        )
        want = set(np.arange(n)[in_ext & ~in_hole].tolist())
        assert got == want
        assert in_hole.sum() > 0  # the hole actually excluded points

    def test_polygon_spatial_join_with_holes(self, spark):
        """Object polygons with holes cover to (exterior minus holes):
        hole-swallowed cells drop, the rest matches the plain cover."""
        from hex2vec_spark.functions.h3_fns import h3_cover_udf
        from hex2vec_spark.hexlib import h3core
        import pyspark.sql.functions as F

        obj = pd.DataFrame([{
            "obj_id": "donut",
            "ring_lat": self.EXT_LA, "ring_lng": self.EXT_LG,
            "holes_lat": [self.HOLE_LA], "holes_lng": [self.HOLE_LG],
        }])
        sdf = spark.createDataFrame(
            obj,
            schema="obj_id string, ring_lat array<double>, ring_lng array<double>, "
                   "holes_lat array<array<double>>, holes_lng array<array<double>>",
        )
        null_rings = F.lit(None).cast("array<array<double>>")
        plain = set(
            sdf.select(F.explode(h3_cover_udf(self.RES)(
                F.col("ring_lat"), F.col("ring_lng"),
                null_rings, null_rings)).alias("h3")).toPandas()["h3"]
        )
        holed = set(
            sdf.select(F.explode(h3_cover_udf(self.RES)(
                F.col("ring_lat"), F.col("ring_lng"),
                F.col("holes_lat"), F.col("holes_lng"))).alias("h3")).toPandas()["h3"]
        )
        assert holed < plain
        removed = np.array(sorted(plain - holed), dtype=np.int64).view(np.uint64)
        kept = np.array(sorted(holed), dtype=np.int64).view(np.uint64)
        la0, la1 = min(self.HOLE_LA), max(self.HOLE_LA)
        lg0, lg1 = min(self.HOLE_LG), max(self.HOLE_LG)

        def fully_in_hole(cells):
            v = h3core.cell_boundary(cells)
            return (
                (v[:, :, 0] > la0) & (v[:, :, 0] < la1)
                & (v[:, :, 1] > lg0) & (v[:, :, 1] < lg1)
            ).all(axis=1)

        assert fully_in_hole(removed).all() and not fully_in_hole(kept).any()
        assert len(removed) > 0
