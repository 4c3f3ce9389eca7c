"""K-ring neighbor operators: context pairs (J5) + negative exclusion (J6).

Reference: H3NeighborDataset (h3_neighbor_dataset.py:21-43) iterates rows
and intersects k_ring sets with the corpus index. Re-expressed as one
DataFrame program: explode k_ring(h3, k) -> equi self-join on cell id.
One shuffle; k_ring is pure arithmetic inside an Arrow UDF
(SURVEY.md §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.h3_fns import h3_kring_udf


def context_pairs(
    corpus: DataFrame, h3_col: str = "h3", k: int = 1, materialize: bool = True
) -> DataFrame:
    """(input_h3, context_h3) for every k_ring(k) neighbor present in the
    corpus, input itself excluded (h3_neighbor_dataset.py:21-26).

    ``corpus`` must have one row per distinct cell (the reference's
    processed-matrix index). Self-join keys are near-unique so there is
    no key skew; AQE handles residual partition imbalance. ``materialize``
    localCheckpoints the distinct cell set once — the self-join would
    otherwise recompute the corpus lineage (often a Python-UDF encode)
    on both sides.
    """
    cells = corpus.select(F.col(h3_col).alias("input_h3")).distinct()
    if materialize:
        cells = cells.localCheckpoint(eager=False)
    exploded = cells.select(
        "input_h3",
        F.explode(h3_kring_udf(k=k, include_self=False)(F.col("input_h3"))).alias("context_h3"),
    )
    present = cells.select(F.col("input_h3").alias("context_h3"))
    return exploded.join(present, "context_h3", "inner").select("input_h3", "context_h3")


def negative_exclusion(corpus: DataFrame, h3_col: str = "h3", k_excl: int = 2) -> DataFrame:
    """Candidate negatives per input cell: corpus cells NOT within
    k_ring(k_excl) of the input (h3_neighbor_dataset.py:28-34,61-66).

    Returned as the exclusion pair set (input_h3, excluded_h3); callers
    anti-join their candidate samples against it — materializing the full
    complement (n^2) is intentionally avoided."""
    cells = corpus.select(F.col(h3_col).alias("input_h3")).distinct()
    excl = cells.select(
        "input_h3",
        F.explode(h3_kring_udf(k=k_excl, include_self=True)(F.col("input_h3"))).alias(
            "excluded_h3"
        ),
    )
    present = corpus.select(F.col(h3_col).alias("excluded_h3")).distinct()
    return excl.join(present, "excluded_h3", "inner").select("input_h3", "excluded_h3")


def sample_negatives(
    corpus: DataFrame,
    n_per_input: int = 4,
    k_excl: int = 2,
    h3_col: str = "h3",
    seed: int = 42,
    pool_cap: int = 4096,
    materialize: bool = True,
) -> DataFrame:
    """Deterministic negative sampling: cross candidate pool anti-joined
    against the k_ring(k_excl) exclusion set, then top-n per input by a
    seeded hash key (rejection sampling re-expressed as anti-join +
    window; h3_neighbor_dataset.py:48-66).

    The candidate pool is a seeded pseudo-random subset of at most
    ``pool_cap`` corpus cells (bounds the broadcast crossJoin; negatives
    are drawn from that subset, not the full corpus). Selected by hash
    ORDER — an unordered limit() would be partition-order-dependent and
    break run-to-run determinism."""
    from pyspark.sql import Window

    cells = corpus.select(F.col(h3_col).alias("input_h3")).distinct()
    if materialize:
        cells = cells.localCheckpoint(eager=False)
    pool = (
        cells.select(F.col("input_h3").alias("neg_h3"))
        .orderBy(F.xxhash64(F.col("neg_h3"), F.lit(seed)), F.col("neg_h3"))
        .limit(pool_cap)
    )
    cand = (
        cells.crossJoin(F.broadcast(pool))
        .withColumn("_r", F.xxhash64(F.col("input_h3"), F.col("neg_h3"), F.lit(seed)))
    )
    excl = negative_exclusion(
        cells.select(F.col("input_h3").alias(h3_col)), h3_col, k_excl
    ).withColumnRenamed("excluded_h3", "neg_h3")
    w = Window.partitionBy("input_h3").orderBy("_r")
    return (
        cand.join(excl, ["input_h3", "neg_h3"], "left_anti")
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= n_per_input)
        .select("input_h3", "neg_h3")
    )


def neighborhood_smooth(
    features: DataFrame,
    value_cols: list[str],
    h3_col: str = "h3",
    k: int = 1,
    include_self: bool = True,
    weight_self: float = 1.0,
) -> DataFrame:
    """Spatially smooth per-cell features over their k-ring neighborhood
    (mean over the neighbors PRESENT in the corpus).

    The contextual-feature analog of the reference's k_ring context
    windows (h3_neighbor_dataset.py:21-26): a cell's smoothed value is
    the (optionally self-weighted) average of its own value and its
    k-ring neighbors' — the standard spatial-lag feature for
    hexagon-level models, and a denoiser for sparse tag counts.

    Plan shape (the only scale-correct one): explode k_ring (pure
    arithmetic, Arrow-batched) -> ONE equi-join pulling each
    neighbor's feature row -> ONE groupBy(cell) mean. Both shuffles
    key on near-unique cell ids — no skew. Missing neighbors (outside
    the corpus) simply don't contribute, matching the reference's
    intersect-with-index semantics.

    ``weight_self``: relative weight of the cell's own value when
    ``include_self`` (1.0 = plain mean; 6.0 approximates a center-
    weighted kernel at k=1).

    The feature table is localCheckpointed once before the self-join —
    same reason as :func:`context_pairs`: both join sides would
    otherwise carry the full input lineage (often the H3 encode
    expression chain), recomputing it AND handing the optimizer a
    self-join of two deep alias stacks to walk.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    features = features.localCheckpoint(eager=False)
    cells = features.select(
        F.col(h3_col).alias("_c"),
        *[F.col(c) for c in value_cols],
    )
    edges = features.select(
        F.col(h3_col).alias("_c"),
        F.explode(
            h3_kring_udf(k=k, include_self=False)(F.col(h3_col))
        ).alias("_n"),
    ).withColumn("_w", F.lit(1.0))
    if include_self:
        self_edges = features.select(
            F.col(h3_col).alias("_c"), F.col(h3_col).alias("_n")
        ).withColumn("_w", F.lit(float(weight_self)))
        edges = edges.unionByName(self_edges)
    pulled = edges.join(
        cells.withColumnRenamed("_c", "_n"), "_n", "inner"
    )
    aggs = [
        (F.sum(F.col(c) * F.col("_w")) / F.sum("_w")).alias(f"{c}_smooth")
        for c in value_cols
    ]
    return (
        pulled.groupBy("_c")
        .agg(*aggs)
        .withColumnRenamed("_c", h3_col)
    )
