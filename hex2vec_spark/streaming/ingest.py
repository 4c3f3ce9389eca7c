"""Structured-Streaming ingestion of the image+caption table.

The reference is batch-only (SURVEY.md §2.8: no watermarks, no stateful
ops), so the engine's core stays batch. This module serves the same
operators in incremental mode for continuously-arriving image drops:
``Trigger.AvailableNow`` over a parquet directory, the identical
h3-encode + tiling-join transformation, and a streaming per-(h3,
feature) count with checkpointed state — exactly-once across restarts
(the streaming analog of the lineage checkpoints in
sources/iceberg_lite.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.h3_fns import DEFAULT_RES
from ..sources.synth import IMAGES_SCHEMA


def read_image_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_hex_features(
    images_stream: DataFrame, tiling_sdf: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Same logical plan as the batch flagship, incrementally maintained:
    h3 encode (the JVM expression chain works on streaming DFs too —
    pure projections are streaming-safe; Arrow-kernel fallback on seam
    bboxes) -> broadcast tiling join (stream-static join: no state) ->
    explode -> streaming agg (state = running counts per
    (region_id, h3, feature))."""
    from ..operators.agg import explode_caption_tags, salted_count
    from ..operators.spatial import assign_h3

    with_h3 = assign_h3(images_stream, res=res)
    joined = with_h3.join(F.broadcast(tiling_sdf), "h3", "inner")
    return salted_count(explode_caption_tags(joined), ["region_id", "h3", "feature"])


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark for late data:
    the streaming analog of the batch ``windowed_counts`` query. State is
    bounded — windows older than the watermark are finalized and evicted,
    so this runs indefinitely on an unbounded event stream. Append-mode
    sinks emit each window exactly once, after it closes."""
    # watermarks require TIMESTAMP (with zone); parquet files often carry
    # TIMESTAMP_NTZ — normalize (session-tz interpretation, same both
    # sides of any batch-vs-stream comparison)
    events_stream = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "event_type", "n")
    )


def streaming_geofence(
    points_stream: DataFrame,
    polygons_sdf: DataFrame,
    cell_deg: float = 0.05,
    lat_col: str = "lat",
    lng_col: str = "lng",
    poly_id_col: str = "obj_id",
    ring_lat_col: str = "ring_lat",
    ring_lng_col: str = "ring_lng",
    holes_lat_col: str = "holes_lat",
    holes_lng_col: str = "holes_lng",
) -> DataFrame:
    """Streaming geofence: (point, fence) rows for every streamed point
    inside a fence polygon — the streaming face of
    ``operators/geo_join.pip_join``.  Fences may carry interior rings
    (``holes_lat_col``/``holes_lng_col``, ``array<array<double>>``):
    a point inside a hole is outside the fence (round 5; same even-odd
    semantics as pip_join).

    The fence set is a STATIC side (geofences change rarely; restart the
    query to pick up a new set), so this is a stateless stream-static
    equi-join on the same ``cell_deg`` grid-bucket key pip_join uses:
    static fences pre-explode to their bbox buckets, streamed points
    compute their single home bucket as pure projections
    (streaming-safe), and the JVM bbox prefilter + the Catalyst
    ray-cast verify run per micro-batch.  No state, no watermark — every
    micro-batch row is independently checked, so throughput scales with
    executor count like any stateless map.

    The plan is ``geo_join.pip_join`` with ``broadcast_polys=True``:
    one copy of the bucketing math, the same reserved-column guard and
    the same JVM ray-cast verify as the batch join.

    Like ``pip_join``, fences crossing the antimeridian are not
    supported — the shared candidate stage raises on any ring whose
    longitude extent reaches 180°; split such fences at 180 first.
    """
    # Broadcast bucket-exploded fences + home-bucket projection + JVM
    # bbox prefilter + the pure-JVM ray-cast expression — no Python
    # worker in the micro-batch path. dedupe_parts=False: dropDuplicates
    # on a stream would allocate unbounded state, and each point meets
    # each fence RING at most once (single home bucket) — only
    # multi-ring fences can emit one row per containing ring, acceptable
    # geofence semantics; dedupe downstream per micro-batch if needed.
    from ..operators.geo_join import pip_join

    return pip_join(
        points_stream, polygons_sdf, cell_deg,
        lat_col=lat_col, lng_col=lng_col, poly_id_col=poly_id_col,
        ring_lat_col=ring_lat_col, ring_lng_col=ring_lng_col,
        holes_lat_col=holes_lat_col, holes_lng_col=holes_lng_col,
        broadcast_polys=True, dedupe_parts=False,
    )


def streaming_proximity(
    points_stream: DataFrame,
    sites_sdf: DataFrame,
    radius_m: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    site_lat_col: str = "slat",
    site_lng_col: str = "slng",
    suffix: str = "_r",
    dist_col: str = "dist_m",
) -> DataFrame:
    """Streaming proximity alerts (round 5): every streamed point within
    ``radius_m`` meters of a static site — the radius-join face of the
    geofence, and the streaming face of ``geo_join.distance_join``.

    This is ``distance_join(broadcast_right=True)`` applied verbatim to
    a stream: the static site table explodes to its 3x3 candidate
    buckets and broadcasts, the streamed point computes its single home
    bucket as pure projections (streaming-safe — no window, no state,
    no watermark), and the exact haversine verify is a JVM expression.
    Exactness (recall 1 / precision 1) is the batch operator's
    closed-form guarantee; stream == batch is pinned in
    tests/test_streaming.py.  Per-micro-batch cost is one broadcast
    probe per point — throughput scales with executor count like any
    stateless map."""
    from ..operators.geo_join import distance_join

    return distance_join(
        points_stream,
        sites_sdf,
        radius_m,
        lat_col=lat_col,
        lng_col=lng_col,
        right_lat_col=site_lat_col,
        right_lng_col=site_lng_col,
        suffix=suffix,
        dist_col=dist_col,
        broadcast_right=True,
    )


def stateful_streaming_dedup(
    images_stream: DataFrame, key_col: str = "caption"
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): streaming
    first-occurrence dedup. State is one boolean per key in the
    checkpointed state store, so a key emits exactly once across
    micro-batches AND across restarts — the streaming analog of
    operators/dedup.exact_dedup for continuously-arriving drops.

    Scale shape: state is partitioned by key hash across executors
    (the groupBy shuffle); per-key state is O(1) bytes. No watermark:
    dedup keys never expire (a production variant would timeout state
    by GroupStateTimeout.ProcessingTimeTimeout to bound the store).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def emit_first(key, pdfs, state):
        if state.exists:
            return
        for pdf in pdfs:
            if len(pdf):
                state.update((True,))
                yield pd.DataFrame(
                    {"key": [key[0]], "image_id": [pdf["image_id"].iloc[0]]}
                )
                return

    return (
        images_stream.withColumn("key", F.col(key_col))
        .groupBy("key")
        .applyInPandasWithState(
            emit_first,
            outputStructType="key string, image_id string",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_dedup_available_now(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    key_col: str = "caption",
) -> None:
    """Drive the stateful dedup over everything currently in
    ``input_path``; appends newly-first-seen keys to ``output_path``."""
    dedup = stateful_streaming_dedup(read_image_stream(spark, input_path), key_col)
    query = (
        dedup.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .format("parquet")
        .option("path", output_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def run_available_now(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    tiling_sdf: DataFrame,
    res: int = DEFAULT_RES,
) -> None:
    """Process everything currently in ``input_path`` and stop; restart
    with the same checkpoint resumes exactly after the last committed
    batch (new files only)."""
    agg = streaming_hex_features(read_image_stream(spark, input_path), tiling_sdf, res)

    # parquet sink doesn't support complete mode; land the running
    # aggregate via foreachBatch overwrite (idempotent per epoch)
    def sink(batch_df: DataFrame, epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(output_path)

    query = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def latest_per_key(
    df: DataFrame, keys: list[str], version_col: str | None
) -> DataFrame:
    """Reduce a CDC micro-batch to its newest row per key. With a
    ``version_col``, rank by (version desc, remaining columns desc) —
    the full-row tiebreak keeps the pick deterministic even on equal
    versions. Without one, the batch is passed through and downstream
    MERGE raises on duplicate keys (telling the caller to supply a
    version column) rather than picking a row arbitrarily."""
    if version_col is None:
        return df
    from pyspark.sql.window import Window

    order = [F.col(version_col).desc()] + [
        F.col(c).desc() for c in df.columns if c != version_col and c not in keys
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_upsert_available_now(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint_path: str,
    keys: list[str] | tuple = ("image_id",),
    version_col: str | None = None,
    schema=IMAGES_SCHEMA,
    partition_res: int | None = None,
    max_files: int = 16,
) -> None:
    """CDC-style streaming upsert: every micro-batch MERGEs into an
    iceberg_lite table (operators/merge.merge_table) as a
    copy-on-write snapshot — the Structured-Streaming analog of an
    Iceberg `MERGE INTO` sink, which Spark's built-in sinks cannot
    express (parquet sink is append/complete only).

    Exactly-once story, layered:

    * the checkpoint gives at-least-once foreachBatch invocation with
      a monotonically increasing epoch id;
    * each commit records its epoch in the snapshot
      (``stream_epoch``); a replayed epoch (failure between sink
      completion and checkpoint commit) is detected against the
      latest snapshot and skipped — no double-apply;
    * and MERGE itself is idempotent anyway (re-merging the same
      source leaves the table unchanged: matched rows re-update to
      identical values, their keys no longer insert), so even a
      missed epoch check degrades to a redundant-but-correct commit.

    Single-writer per table (iceberg_lite has no commit-conflict
    resolution — the real Iceberg's optimistic retry is out of scope).
    """
    from ..operators.merge import merge_table
    from ..sources.iceberg_lite import commit_table, snapshots

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )
    key_list = list(keys)

    def sink(batch_df: DataFrame, epoch: int) -> None:
        log = snapshots(table_path)
        if log and log[-1].get("stream_epoch") == epoch:
            return  # replayed epoch: already applied
        latest = latest_per_key(batch_df, key_list, version_col)
        if not log:
            commit_table(
                latest,
                table_path,
                mode="overwrite",
                partition_res=partition_res,
                snapshot_extra={"stream_epoch": epoch},
            )
        else:
            merge_table(
                spark,
                table_path,
                latest,
                key_list,
                partition_res=partition_res,
                snapshot_extra={"stream_epoch": epoch},
            )

    query = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
