"""Streaming ingestion tests: availableNow over image drops, checkpoint
resume (new files only), streaming result == batch result."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from hex2vec_spark.operators.agg import hex_features
from hex2vec_spark.operators.spatial import build_tiling, spatial_join
from hex2vec_spark.sources.synth import images_pandas, regions_pandas
from hex2vec_spark.streaming.ingest import run_available_now

RES = 7


def _write_chunk(spark, pdf: pd.DataFrame, path: str, name: str) -> None:
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.mode("append").parquet(path)


def test_stateful_dedup_exactly_once_across_restarts(spark, tmp_path):
    from hex2vec_spark.streaming.ingest import run_dedup_available_now

    inp = str(tmp_path / "drops")
    out = str(tmp_path / "uniq")
    ck = str(tmp_path / "ck")
    all_pdf = images_pandas(500)

    # drop 1
    _write_chunk(spark, all_pdf.iloc[:300], inp, "c1")
    run_dedup_available_now(spark, inp, out, ck)
    got1 = spark.read.parquet(out).toPandas()
    want1 = set(all_pdf.iloc[:300]["caption"])
    assert set(got1["key"]) == want1
    assert len(got1) == len(want1)  # each key exactly once

    # drop 2: new rows PLUS a replay of the first 100 (guaranteed
    # caption overlap); restart from checkpointed state
    drop2 = pd.concat([all_pdf.iloc[300:], all_pdf.iloc[:100]], ignore_index=True)
    _write_chunk(spark, drop2, inp, "c2")
    run_dedup_available_now(spark, inp, out, ck)
    got2 = spark.read.parquet(out).toPandas()
    assert set(got2["key"]) == set(all_pdf["caption"])
    # keys already seen in drop 1 were NOT re-emitted after the restart
    assert len(got2) == len(set(all_pdf["caption"]))
    assert len(want1 & set(drop2["caption"])) > 0


def test_available_now_resume_matches_batch(spark, tmp_path):
    tiling = build_tiling(regions_pandas(), res=RES)
    tiling_sdf = spark.createDataFrame(tiling)
    inp = str(tmp_path / "drops")
    out = str(tmp_path / "agg")
    ck = str(tmp_path / "ck")
    all_pdf = images_pandas(600)

    # drop 1: first 400 rows -> run
    _write_chunk(spark, all_pdf.iloc[:400], inp, "c1")
    run_available_now(spark, inp, out, ck, tiling_sdf, res=RES)
    n1 = spark.read.parquet(out).agg(F.sum("count")).first()[0]

    # drop 2: remaining rows -> resume from checkpoint
    _write_chunk(spark, all_pdf.iloc[400:], inp, "c2")
    run_available_now(spark, inp, out, ck, tiling_sdf, res=RES)
    stream_pdf = spark.read.parquet(out).toPandas()

    # batch reference over the full table
    batch = hex_features(
        spatial_join(spark.createDataFrame(all_pdf), tiling_sdf, res=RES)
    ).toPandas()
    merged = (
        stream_pdf.groupby(["h3", "feature"])["count"].sum().reset_index()
    )
    key = lambda d: sorted(map(tuple, d[["h3", "feature", "count"]].to_numpy()))
    assert key(merged) == key(batch)
    assert n1 is not None and n1 > 0


def test_streaming_geofence_matches_batch_pip(spark, tmp_path):
    # streamed points through the stateless geofence == batch pip_join
    # over the same table, across two drops with a checkpoint resume
    from hex2vec_spark.operators.geo_join import pip_join
    from hex2vec_spark.streaming.ingest import streaming_geofence

    rng = np.random.default_rng(31)
    n = 600
    pts_pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lat": rng.uniform(45.0, 46.0, n),
            "lng": rng.uniform(10.0, 11.0, n),
        }
    )
    fences_pdf = pd.DataFrame(
        [
            {
                "obj_id": f"f{p:02d}",
                "ring_lat": (45.5 + 0.3 * np.sin(np.linspace(0, 2 * np.pi, 7)[:-1] + p)
                             + 0.02 * p * np.cos(np.linspace(0, 2 * np.pi, 7)[:-1])).tolist(),
                "ring_lng": (10.5 + 0.3 * np.cos(np.linspace(0, 2 * np.pi, 7)[:-1] + p)).tolist(),
            }
            for p in range(8)
        ]
    )
    fences = spark.createDataFrame(fences_pdf)
    inp = str(tmp_path / "pts")
    out = str(tmp_path / "hits")
    ck = str(tmp_path / "ck")

    for chunk in (pts_pdf.iloc[:350], pts_pdf.iloc[350:]):
        _write_chunk(spark, chunk, inp, "c")
        stream = (
            spark.readStream.schema("pid bigint, lat double, lng double")
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        hits = streaming_geofence(stream, fences, cell_deg=0.1)
        q = (
            hits.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = spark.read.parquet(out).select("pid", "obj_id").toPandas()
    want = (
        pip_join(spark.createDataFrame(pts_pdf), fences, cell_deg=0.1)
        .select("pid", "obj_id")
        .toPandas()
    )
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))
    assert len(want) > 0


class TestStreamingUpsert:
    SCHEMA = "image_id long, caption string, v long"

    def _run(self, spark, tmp_path, n=1):
        from hex2vec_spark.streaming.ingest import run_upsert_available_now

        run_upsert_available_now(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "tbl"),
            str(tmp_path / "ck"),
            keys=["image_id"],
            version_col="v",
            schema=self.SCHEMA,
        )

    def _write(self, spark, tmp_path, rows):
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "in"))

    def test_upsert_updates_inserts_and_time_travels(self, spark, tmp_path):
        from hex2vec_spark.sources.iceberg_lite import read_table, snapshots

        self._write(spark, tmp_path, [(1, "cat", 1), (2, "dog", 1)])
        self._run(spark, tmp_path)
        t1 = {r["image_id"]: r["caption"] for r in read_table(spark, str(tmp_path / "tbl")).collect()}
        assert t1 == {1: "cat", 2: "dog"}
        s1 = snapshots(str(tmp_path / "tbl"))[-1]

        # second drop: update image 2, insert image 3; in-batch dup for
        # id 3 resolved by version (v=3 wins)
        self._write(
            spark, tmp_path, [(2, "dog v2", 2), (3, "bird", 2), (3, "bird v3", 3)]
        )
        self._run(spark, tmp_path)
        t2 = {r["image_id"]: r["caption"] for r in read_table(spark, str(tmp_path / "tbl")).collect()}
        assert t2 == {1: "cat", 2: "dog v2", 3: "bird v3"}
        # pre-merge snapshot still time-travel readable
        old = {
            r["image_id"]: r["caption"]
            for r in read_table(spark, str(tmp_path / "tbl"), snapshot_id=s1["id"]).collect()
        }
        assert old == {1: "cat", 2: "dog"}
        # epochs recorded; second snapshot has merge keys
        s2 = snapshots(str(tmp_path / "tbl"))[-1]
        assert s2["merge_on"] == ["image_id"] and "stream_epoch" in s2

    def test_no_new_files_no_new_snapshot(self, spark, tmp_path):
        from hex2vec_spark.sources.iceberg_lite import snapshots

        self._write(spark, tmp_path, [(1, "cat", 1)])
        self._run(spark, tmp_path)
        n1 = len(snapshots(str(tmp_path / "tbl")))
        self._run(spark, tmp_path)  # nothing new: no epoch, no commit
        assert len(snapshots(str(tmp_path / "tbl"))) == n1

    def test_latest_per_key_deterministic(self, spark):
        from hex2vec_spark.streaming.ingest import latest_per_key

        df = spark.createDataFrame(
            [(1, "a", 2), (1, "b", 2), (1, "c", 1)], self.SCHEMA
        )
        out = latest_per_key(df, ["image_id"], "v").collect()
        # tie on v=2 broken by caption desc -> 'b'
        assert len(out) == 1 and out[0]["caption"] == "b"


def test_streaming_geofence_with_holes_matches_batch(spark, tmp_path):
    # round-5: fences with interior rings — streamed hits == batch
    # pip_join over the same holed fence table
    from hex2vec_spark.operators.geo_join import pip_join
    from hex2vec_spark.streaming.ingest import streaming_geofence

    rng = np.random.default_rng(41)
    n = 500
    pts_pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lat": rng.uniform(45.0, 46.0, n),
            "lng": rng.uniform(10.0, 11.0, n),
        }
    )
    fences_pdf = pd.DataFrame(
        [
            {
                "obj_id": "donut",
                "ring_lat": [45.2, 45.2, 45.8, 45.8],
                "ring_lng": [10.2, 10.8, 10.8, 10.2],
                "holes_lat": [[45.4, 45.4, 45.6, 45.6]],
                "holes_lng": [[10.4, 10.6, 10.6, 10.4]],
            },
            {
                "obj_id": "plain",
                "ring_lat": [45.0, 45.0, 45.3, 45.3],
                "ring_lng": [10.0, 10.4, 10.4, 10.0],
                "holes_lat": None,
                "holes_lng": None,
            },
        ]
    )
    fences = spark.createDataFrame(
        fences_pdf,
        schema="obj_id string, ring_lat array<double>, ring_lng array<double>, "
               "holes_lat array<array<double>>, holes_lng array<array<double>>",
    )
    inp, out, ck = str(tmp_path / "pts"), str(tmp_path / "hits"), str(tmp_path / "ck")
    _write_chunk(spark, pts_pdf, inp, "c")
    stream = (
        spark.readStream.schema("pid bigint, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = (
        streaming_geofence(stream, fences, cell_deg=0.2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).select("pid", "obj_id").toPandas()
    want = (
        pip_join(spark.createDataFrame(pts_pdf), fences, cell_deg=0.2)
        .select("pid", "obj_id")
        .toPandas()
    )
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))
    # the hole excluded at least one point that the exterior contains
    in_hole = (
        (pts_pdf["lat"] > 45.4) & (pts_pdf["lat"] < 45.6)
        & (pts_pdf["lng"] > 10.4) & (pts_pdf["lng"] < 10.6)
    )
    assert in_hole.sum() > 0
    assert not set(pts_pdf.loc[in_hole, "pid"]) & set(
        got.loc[got["obj_id"] == "donut", "pid"]
    )


def test_streaming_proximity_matches_batch_distance_join(spark, tmp_path):
    # round-5: stateless stream-static radius join (broadcast_right on a
    # stream) == batch distance_join over the same tables, two drops +
    # checkpoint resume
    from hex2vec_spark.operators.geo_join import distance_join
    from hex2vec_spark.streaming.ingest import streaming_proximity

    rng = np.random.default_rng(53)
    n = 500
    pts_pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lat": rng.uniform(45.0, 45.5, n),
            "lng": rng.uniform(10.0, 10.5, n),
        }
    )
    sites_pdf = pd.DataFrame(
        {
            "site_id": np.arange(30),
            "slat": rng.uniform(45.0, 45.5, 30),
            "slng": rng.uniform(10.0, 10.5, 30),
        }
    )
    sites = spark.createDataFrame(sites_pdf)
    inp, out, ck = str(tmp_path / "pts"), str(tmp_path / "hits"), str(tmp_path / "ck")
    for chunk in (pts_pdf.iloc[:250], pts_pdf.iloc[250:]):
        _write_chunk(spark, chunk, inp, "c")
        stream = (
            spark.readStream.schema("pid bigint, lat double, lng double")
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        q = (
            streaming_proximity(stream, sites, 2000.0)
            .select("pid", "site_id", F.round("dist_m", 6).alias("d"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    want = (
        distance_join(
            spark.createDataFrame(pts_pdf), sites, 2000.0,
            right_lat_col="slat", right_lng_col="slng", broadcast_right=True,
        )
        .select("pid", "site_id", F.round("dist_m", 6).alias("d"))
        .toPandas()
    )
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))
    assert len(want) > 0
