"""End-to-end dataset-build pipeline — the engine's public equivalent of
the reference's driver notebook (entry point A, SURVEY.md §3.1:
make-dataset-multiple-cities.ipynb cells 5->15->18->21):

    download_whole_city      -> ingest (the images table already exists)
    add_h3_indices_to_city   -> stage 'assign': h3 encode + tiling join,
                                resumable per-bucket (iceberg_lite.run_stage)
    group_city_tags          -> stage 'features': explode + salted count
    group_cities             -> regions united in one table (region_id col)
    9.feather                -> versioned snapshot commit, partitioned by
                                h3 parent (iceberg_lite.commit_table)

plus the S7 read-back (load_processed_dataset, load_data.py:87-98):
region in/out filters, feature prefix selection; the all-zero row drop
is inherent to the narrow (h3, feature, count) form.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def _tiling_parquet(spark: SparkSession, regions_pdf: pd.DataFrame, res: int, root: str) -> DataFrame:
    """Persist the tiling once under the dataset root (the reference
    caches the same artifact as GeoJSON, make_dataset.py:84-93). The dir
    name is keyed by (res, regions content hash) via tiling_table, so a
    re-run with different res or polygons rebuilds instead of silently
    reusing a stale dimension."""
    from ..operators.spatial import regions_content_key, tiling_table

    path = os.path.join(root, f"tiling_res{res}_{regions_content_key(regions_pdf)}")
    return tiling_table(spark, res=res, regions_pdf=regions_pdf, path=path)


def build_dataset(
    spark: SparkSession,
    images: DataFrame,
    regions_pdf: pd.DataFrame,
    out_root: str,
    res: int = 9,
    n_buckets: int = 8,
    input_fingerprint: str | None = None,
) -> dict:
    """Run the full build: tiling -> resumable spatial-join stage ->
    feature aggregation -> versioned snapshot commit. Returns the
    snapshot dict.

    Resume: pass a STABLE ``input_fingerprint`` that identifies the
    input (e.g. its snapshot id or content hash) — a re-run with the
    same fingerprint skips completed join buckets (kill-and-resume
    semantics, SURVEY.md §5.5). When omitted, a fresh unique fingerprint
    is generated so unrelated runs against the same out_root can never
    silently reuse a previous run's join output.

    Layout under ``out_root``:
      tiling_res<R>_<hash>/  res-R cell -> region dimension (parquet)
      assign/bucket=K        spatial-join output + per-bucket manifest
      features/              (region_id, h3, feature, count) snapshots,
                             partitioned by h3 parent, time-travelable
    """
    import uuid

    from ..operators.agg import explode_caption_tags, salted_count
    from ..operators.spatial import spatial_join
    from ..sources.iceberg_lite import commit_table, read_stage, run_stage

    if input_fingerprint is None:
        input_fingerprint = f"run-{uuid.uuid4().hex[:12]}"
    tiling_sdf = _tiling_parquet(spark, regions_pdf, res, out_root)

    def assign(batch: DataFrame) -> DataFrame:
        return spatial_join(batch, tiling_sdf, res=res).select(
            "image_id", "caption", "h3", "region_id"
        )

    assign_path = os.path.join(out_root, "assign")
    # narrow to the columns the assign transform needs BEFORE the stage:
    # run_stage's single-pass raw-split landing materializes every
    # column it is given (the old per-bucket re-scan got Catalyst column
    # pruning for free; the explicit select keeps the decoded-image
    # bytes out of the 2x-IO path)
    manifest = run_stage(
        spark, images.select("image_id", "caption", "phash"), assign_path, assign,
        bucket_col="image_id", n_buckets=n_buckets,
        input_fingerprint=input_fingerprint,
    )

    # read exactly this run's buckets — a bucket=* glob would mix in
    # stale high-numbered dirs when n_buckets shrank between runs
    tags = explode_caption_tags(read_stage(spark, assign_path, n_buckets=n_buckets))
    feats = salted_count(tags, ["region_id", "h3", "feature"])
    n_done = sum(
        1
        for v in manifest["buckets"].values()
        if v.get("fingerprint") == input_fingerprint and v.get("n_buckets") == n_buckets
    )
    snap = commit_table(
        feats, os.path.join(out_root, "features"), mode="overwrite",
        partition_res=max(res - 5, 0),
        snapshot_extra={"stage_manifest_buckets": n_done, "res": res,
                        "input_fingerprint": input_fingerprint},
    )
    return snap


def build_neighbor_dataset(
    spark: SparkSession,
    out_root: str,
    k: int = 1,
    k_excl: int = 2,
    n_negatives: int = 4,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Entry point B (SURVEY.md §3.2, cluster-word2vec.ipynb cells 5->19):
    read the committed features table -> distinct cell corpus -> k-ring
    context pairs (J5) + k_ring(k_excl)-excluded negative samples (J6),
    returned as one (input_h3, context_h3, neg_h3s) training table.
    Deterministic: negatives come from seeded hash ordering."""
    from ..operators.neighbors import context_pairs, sample_negatives

    corpus = load_processed(spark, out_root, snapshot_id=snapshot_id).select("h3").distinct()
    corpus = corpus.localCheckpoint(eager=False)  # two consumers below
    # already distinct + checkpointed: tell the operators not to repeat it
    pairs = context_pairs(corpus, k=k, materialize=False)
    negs = (
        sample_negatives(corpus, n_per_input=n_negatives, k_excl=k_excl, materialize=False)
        .groupBy("input_h3")
        .agg(F.sort_array(F.collect_list("neg_h3")).alias("neg_h3s"))
    )
    return pairs.join(negs, "input_h3", "left")


def load_processed(
    spark: SparkSession,
    out_root: str,
    snapshot_id: int | None = None,
    select_regions: list[str] | None = None,
    drop_regions: list[str] | None = None,
    feature_prefixes: list[str] | None = None,
) -> DataFrame:
    """S7 read-back (load_processed_dataset, load_data.py:87-98): region
    membership in/out filters (P5) and feature-prefix selection (P6) over
    the committed features table; predicates push into the parquet scan."""
    from ..sources.iceberg_lite import read_table

    df = read_table(spark, os.path.join(out_root, "features"), snapshot_id=snapshot_id)
    if select_regions:
        df = df.where(F.col("region_id").isin(select_regions))
    if drop_regions:
        df = df.where(~F.col("region_id").isin(drop_regions))
    if feature_prefixes:
        cond = None
        for p in feature_prefixes:
            c = F.col("feature").startswith(p)
            cond = c if cond is None else (cond | c)
        df = df.where(cond)
    return df


def build_embeddings(
    spark: SparkSession,
    out_root: str,
    dim: int = 16,
    n_iter: int = 8,
    lr: float = 1.0,
    seed: int = 13,
    k: int = 1,
    k_excl: int = 2,
    n_negatives: int = 4,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Entry point B+C bridge — the full "2vec" (cluster-word2vec.ipynb
    cells 5->27): neighbor dataset from the committed features table ->
    SGNS training (operators/embed) -> cell-embedding table COMMITTED
    under ``out_root/embeddings`` (versioned, time-travelable like the
    features table). Returns the embeddings DataFrame; downstream
    similarity/cluster queries (cells 28-91) read it back via
    ``load_embeddings``."""
    from ..operators.embed import embeddings_table, skipgram_fit
    from ..sources.iceberg_lite import commit_table

    ds = build_neighbor_dataset(
        spark, out_root, k=k, k_excl=k_excl, n_negatives=n_negatives,
        snapshot_id=snapshot_id,
    )
    vocab, w, losses = skipgram_fit(ds, dim=dim, n_iter=n_iter, lr=lr, seed=seed)
    emb = embeddings_table(spark, vocab, w)
    commit_table(
        emb, os.path.join(out_root, "embeddings"), mode="overwrite",
        partition_res=None,
        snapshot_extra={"train": {"dim": dim, "n_iter": n_iter, "lr": lr,
                                  "seed": seed, "final_loss": losses[-1] if losses else None}},
    )
    return emb


def load_embeddings(
    spark: SparkSession, out_root: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read back the committed cell embeddings (time-travelable)."""
    from ..sources.iceberg_lite import read_table

    return read_table(spark, os.path.join(out_root, "embeddings"), snapshot_id=snapshot_id)
