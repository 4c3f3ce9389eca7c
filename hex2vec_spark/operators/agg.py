"""Aggregation operators: caption explode + skew-bounded group-by + pivot.

Reference: group_df_by_tag_values / group_city_tags (make_dataset.py:
143-172) — one-hot pivot + groupby('h3').sum(). At scale the engine
keeps the **narrow form** (h3, feature, count) (SURVEY.md §1.1: a
726-wide mostly-zero matrix is an anti-pattern at 10^12 rows) and
pivots only bounded vocabularies on demand.

Skew (north_rule "salted group-by with explicit skew handling"): hot
cells concentrate 20%+ of rows in a handful of (h3, feature) groups.
For a COUNT the map-side partial aggregate is the skew bound:
``salted_count`` is one group-by over one hash exchange, and its partial
``HashAggregate`` collapses every key to at most one row per map task
before anything moves, so a hot key reaches its reducer as at most P
rows (P = map tasks) however many input rows it holds. A salt cannot
lower that bound — it only multiplies the partial rows and adds a
second exchange to re-sum them (DS2, ICDE 2021: moving data cannot fix
a hot key; collapsing it before the move does). Salting pays only when
the per-key work is not combinable, see ``adaptive_salted_count`` and
operators/joins.salted_equi_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def explode_caption_tags(df: DataFrame, col: str = "caption") -> DataFrame:
    """Multi-value split -> explode -> trim (P3; load_data.py:42-44)."""
    return df.withColumn(
        "feature", F.explode(F.split(F.col(col), ";"))
    ).withColumn("feature", F.trim(F.col("feature"))).where(F.col("feature") != "")


def salted_count(df: DataFrame, keys: list[str], count_alias: str = "count") -> DataFrame:
    """Skew-bounded count per ``keys``: one ``groupBy`` over a single
    hash exchange. The partial aggregate below the exchange emits at
    most (distinct keys of the task) rows per map task, so the shuffle
    carries at most P x (distinct keys) rows and a hot key arrives at
    its reducer as at most P partial counts (tests/test_plans.py pins
    the plan shape and the bound on a planted 90%-hot key). No salt:
    one would only multiply the partial rows and add a second exchange
    and stage to re-sum them, without lowering that bound.
    """
    return df.groupBy(*keys).agg(F.count(F.lit(1)).cast("double").alias(count_alias))


def estimate_heavy_keys(
    df: DataFrame,
    keys: list[str],
    sample_frac: float = 0.02,
    hot_share: float = 0.005,
    seed: int = 7,
) -> list[tuple[tuple, float]]:
    """Sampled heavy-hitter estimate (SURVEY.md M4 'hot-key detection'):
    count keys over a small row sample, return [(key_tuple, share)] for
    keys whose estimated share of all rows exceeds ``hot_share``. Cost:
    one pass over sample_frac of the data; the result is tiny (hot keys
    are by definition few) and safe to collect."""
    sample = df.sample(fraction=sample_frac, seed=seed).select(*keys)
    counts = sample.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    total = sample.count() or 1
    # threshold BEFORE collect: only the (few) hot keys reach the driver
    rows = counts.where(F.col("_n") >= hot_share * total).collect()
    return [(tuple(r[k] for k in keys), r["_n"] / total) for r in rows]


def adaptive_salted_count(
    df: DataFrame,
    keys: list[str],
    salt_src: str = "image_id",
    sample_frac: float = 0.02,
    hot_share: float = 0.005,
    seed: int = 7,
    count_alias: str = "count",
) -> DataFrame:
    """Skew-aware two-phase count with a *per-key* salt factor: hot keys
    (sampled heavy-hitter estimate) are split across enough reducers to
    bring their largest salted sub-group down to roughly one partition's
    fair share; cold keys keep salt factor 1 — no shuffle fan-out where
    none is needed. For a plain count the partial aggregate of
    ``salted_count`` already bounds every key to one row per map task,
    so this variant only earns its sample pass when the salted phase
    carries work that does not combine map-side.

    Result is identical to the plain GROUP BY for any sample outcome
    (the salt only splits work); asserted in tests + the DuckDB oracle.

    COST NOTE: the heavy-hitter sample re-executes ``df``'s lineage
    (twice: count + thresholded collect). Use it on source-backed or
    cached DataFrames; for a derived pipeline either cache upstream or
    prefer ``salted_count`` (measured: sampling a 6M-row explode
    pipeline costs more than any salt saves).
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hot = estimate_heavy_keys(df, keys, sample_frac, hot_share, seed)
    if not hot:
        return salted_count(df, keys, count_alias)
    dim = spark.createDataFrame(
        [(*k, max(2, int(share * n_part * 2 + 1))) for k, share in hot],
        df.select(*keys).schema.add("_factor", "integer"),
    )
    with_f = df.join(F.broadcast(dim), keys, "left").na.fill({"_factor": 1})
    salt = F.pmod(F.xxhash64(F.col(salt_src)), F.col("_factor")).alias("_salt")
    partial = with_f.groupBy(*keys, salt).agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("double").alias(count_alias))


def hex_features(assignments: DataFrame) -> DataFrame:
    """The A1/A2 aggregation: per-(h3, feature) counts over the spatial
    join output. Narrow-form equivalent of the reference's pivot +
    groupby('h3').sum() (make_dataset.py:143-172)."""
    return salted_count(explode_caption_tags(assignments), ["h3", "feature"])


def pivot_wide(features: DataFrame, vocab: list[str]) -> DataFrame:
    """Bounded-vocabulary pivot to the reference's wide matrix layout
    (missing columns back-filled with 0 — make_dataset.py:161-163)."""
    return (
        features.groupBy("h3")
        .pivot("feature", vocab)
        .agg(F.first("count"))
        .na.fill(0.0)
    )
