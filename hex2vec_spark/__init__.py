"""hex2vec_spark: PySpark-native spatial-join + H3 tiling engine.

From-scratch re-expression of kraina-ai/hex2vec's hexagon pipeline
(OSM-tag hexagon embedding prep) as an idiomatic Spark engine over an
Iceberg-style table of image + caption pairs. See SURVEY.md for the
operator inventory and the file:line parity citations.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # lazy public surface: keep `import hex2vec_spark` free of pyspark
    # import cost until an API symbol is touched
    api = {
        "build_dataset": "plans.pipeline",
        "load_processed": "plans.pipeline",
        "build_neighbor_dataset": "plans.pipeline",
        "get_spark": "plans.session",
        "spatial_join": "operators.spatial",
        "polygon_spatial_join": "operators.spatial",
        "assign_h3": "operators.spatial",
        "build_tiling": "operators.spatial",
        "tiling_table": "operators.spatial",
        "hex_features": "operators.agg",
        "salted_count": "operators.agg",
        "adaptive_salted_count": "operators.agg",
        "context_pairs": "operators.neighbors",
        "sample_negatives": "operators.neighbors",
        "neighborhood_smooth": "operators.neighbors",
        "run_upsert_available_now": "streaming.ingest",
        "streaming_geofence": "streaming.ingest",
        "streaming_proximity": "streaming.ingest",
        "cosine_topk": "operators.knn",
        "build_ivf_index": "operators.knn",
        "query_ivf_index": "operators.knn",
        "salted_equi_join": "operators.joins",
        "distance_join": "operators.geo_join",
        "rasterize_hex": "operators.raster",
        "haversine_m_expr": "operators.geo_join",
        "knn_join": "operators.geo_join",
        "knn_join_full": "operators.geo_join",
        "bearing_deg_expr": "operators.geo_join",
        "convex_hull": "operators.geo_join",
        "destination_expr": "operators.geo_join",
        "spherical_polygon_area_m2": "hexlib.geom",
        "pip_join": "operators.geo_join",
        "points_in_polygon_with_holes": "hexlib.geom",
        "point_in_ring_expr": "functions.geo_expr",
        "point_in_polygon_with_holes_expr": "functions.geo_expr",
        "h3_path": "functions.h3_fns",
        "h3_area_m2": "functions.h3_fns",
        "asof_join": "operators.asof",
        "skipgram_fit": "operators.embed",
        "skipgram_fit_sharded": "operators.embed",
        "sharded_embeddings": "operators.embed",
        "autoencoder_fit": "operators.embed",
        "combined_fit": "operators.embed",
        "encode_features": "operators.embed",
        "connected_components": "operators.components",
        "keep_canonical": "operators.components",
        "Checkpointer": "operators.ckpt",
        "sessionize": "operators.sessions",
        "parent_col": "operators.hierarchy",
        "children_col": "operators.hierarchy",
        "rollup": "operators.hierarchy",
        "compact_cells": "operators.hierarchy",
        "uncompact_cells": "operators.hierarchy",
        "merge_into": "operators.merge",
        "merge_table": "operators.merge",
        "augment_images": "functions.augment",
        "ssim_roundtrip": "functions.augment",
        "ssim_pairs": "functions.augment",
        "sample_frames": "functions.multimodal",
        "extract_frames": "functions.multimodal",
        "resize_images": "functions.multimodal",
        "y4m_encode": "hexlib.video",
        "y4m_decode": "hexlib.video",
        "y4m_probe": "hexlib.video",
        "synth_y4m_bytes": "hexlib.video",
        "cells_to_geojson": "functions.viz",
        "choropleth_svg": "functions.viz",
        "kepler_bundle": "functions.viz",
        "images_table": "sources.synth",
        "commit_table": "sources.iceberg_lite",
        "read_table": "sources.iceberg_lite",
        "run_stage": "sources.iceberg_lite",
        "expire_snapshots": "sources.iceberg_lite",
        "compact_data_files": "sources.iceberg_lite",
    }
    if name in api:
        import importlib

        mod = importlib.import_module(f".{api[name]}", __name__)
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
