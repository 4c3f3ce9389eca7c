"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   : flagship query — per-hexagon caption-feature histogram
                 over the deterministic synthetic image+caption table
                 (BASELINE.json input_hint shape), spatial-joined against
                 the region tiling at H3 res 8, skew-bounded aggregation.
queries()      : operator inventory from SURVEY.md §2; TPC-H-ish entries
                 are DuckDB-oracled at sf0.01, image/H3 entries are
                 rows-only (H3 is not SQL-expressible) and get exact
                 pandas-oracle checks in tests/test_pipeline.py instead.
oracle_sql()   : DuckDB equivalents, column names aligned 1:1.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

ENTRY_N_IMAGES = 4000
QUERY_N_IMAGES = 4000
ENTRY_RES = 8

_STOP = "('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')"


def _harden(spark: SparkSession) -> SparkSession:
    """Runtime confs the engine needs on sessions it did not build
    (the driver creates its own): dynamic partition pruning's planning
    rule walks alias substitutions through the JVM H3 encode chain and
    explodes exponentially (see plans/session.py for the full note);
    the engine's layouts prune statically via h3_p4 predicates."""
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    # lateral-alias H3 encode chain needs ~2 analyzer fixed-point
    # iterations per aperture-7 level (see plans/session.py)
    spark.conf.set("spark.sql.analyzer.maxIterations", "300")
    # per-API-call Python call-site capture is pure driver overhead
    # (~0.5 s per complex query's plan construction, error-msg only)
    # but its conf is STATIC — only settable at session build
    # (plans/session.py does); on foreign sessions fall back to the
    # cache pyspark keeps after the first check
    try:
        from pyspark.errors import utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    return spark


def _images(spark: SparkSession, n: int = QUERY_N_IMAGES) -> DataFrame:
    from hex2vec_spark.sources.synth import images_table_cached

    return images_table_cached(_harden(spark), n)


def _tiling_sdf(spark: SparkSession, res: int = ENTRY_RES) -> DataFrame:
    # parquet-backed (a plan-embedded local relation makes every action
    # re-serialize the 55k-cell dimension; see spatial.tiling_table)
    from hex2vec_spark.operators.spatial import tiling_table

    return tiling_table(spark, res=res)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: scan -> h3 encode (whole-stage-codegen JVM expressions,
    functions/h3_expr; Arrow-UDF kernel on seam bboxes) -> broadcast
    tiling join -> caption explode -> group-by count over one shuffle,
    whose map-side partial aggregate ships each hot cell as at most one
    row per map task (operators/agg.salted_count) ->
    (h3, feature, count, region_id). Exercises S/P/J/A of SURVEY.md §2
    in one job (build plan M1)."""
    from hex2vec_spark.operators.agg import explode_caption_tags, salted_count
    from hex2vec_spark.operators.spatial import spatial_join

    _harden(spark)
    images = _images(spark, ENTRY_N_IMAGES)
    joined = spatial_join(images, _tiling_sdf(spark), res=ENTRY_RES)
    tags = explode_caption_tags(joined)
    return salted_count(tags, ["region_id", "h3", "feature"], count_alias="count")


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the lazy scan is reused per session: spark.read.parquet re-reads
    # the footer schema on every call (~0.1 s per query build). The
    # fixture tables under sf_dir do not change during a gate or bench
    # run; paths that get rewritten (pipeline stage dirs) do not come
    # through here.
    from hex2vec_spark.plans.session import session_cached

    path = f"{sf_dir}/{name}.parquet"
    return session_cached(spark, ("load", path), lambda: spark.read.parquet(path))


def _docs_parallel(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    """documents.parquet is ONE file with ONE row group, so any per-doc
    compute above its scan runs on a single core (guide §2.5
    unsplittable input). Keyed repartition after the read (and after any
    LIMIT, so the selected row set is unchanged) spreads the work; the
    row SET is identical — only placement changes. Used by the
    compute-heavy document queries (regex/md5/tokenize loops)."""
    d = _load(spark, sf_dir, "documents")
    if limit is not None:
        d = d.limit(limit)
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id")


# --------------------------------------------------------------- queries

def _q1_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_explode_trim(spark, sf_dir):
    # P3: split -> explode -> trim (load_data.py:42-44) over documents.
    # Round 6 (guide §2.5 unsplittable input): documents.parquet is ONE
    # file with ONE row group, so the scan+explode+partial-agg stage ran
    # on a single core; a keyed repartition right after the read spreads
    # the tokenize across the cluster (hash on doc_id — deterministic,
    # no sort-before-repartition penalty). Result rows unchanged.
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .withColumn("token", F.trim(F.col("token")))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(100)
    )


def _q_semi_filter(spark, sf_dir):
    # P4: IN-set value filter (load_data.py:60-64)
    part = _load(spark, sf_dir, "part")
    return part.where(F.col("p_type").isin("MEDIUM", "PROMO")).select("p_partkey", "p_type")


def _q_union_resum(spark, sf_dir):
    # U1 + A2: vertical union of splits, re-aggregate (make_dataset.py:153-172)
    li = _load(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    return (
        a.unionByName(b)
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


def _q_self_join(spark, sf_dir):
    # J5-analog: equi self-join (set-intersection as join)
    n = _load(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        .where(F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(
            F.col("a.n_nationkey").alias("nk_a"),
            F.col("b.n_nationkey").alias("nk_b"),
            F.col("a.n_regionkey").alias("rk"),
        )
    )


def _q_topk(spark, sf_dir):
    # W1: full-sort take-k -> TakeOrderedAndProject
    o = _load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def _q_per_group_topk(spark, sf_dir):
    # W1 variant: row_number window per group
    from pyspark.sql import Window

    c = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rk")
    )


def _q_group_pivot(spark, sf_dir):
    # A1: one-hot pivot + group-sum, narrow form (make_dataset.py:143-150)
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("double").alias("count"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_salted_agg(spark, sf_dir):
    # A1 + north_rule skew handling: one exchange, with the partial
    # aggregate bounding every key to one row per map task
    from hex2vec_spark.operators.agg import salted_count

    li = _load(spark, sf_dir, "lineitem")
    return salted_count(li, ["l_returnflag", "l_linestatus"], count_alias="count")


def _q_adaptive_salted_agg(spark, sf_dir):
    # M4 skew handling: sampled heavy-hitter estimate -> per-key salt
    # factor; result == plain GROUP BY for any sample outcome
    from hex2vec_spark.operators.agg import adaptive_salted_count

    li = _load(spark, sf_dir, "lineitem")
    return adaptive_salted_count(
        li, ["l_returnflag", "l_linestatus"], salt_src="l_orderkey", count_alias="count"
    )


def _q_value_sets(spark, sf_dir):
    # A7 true set semantics: key -> sorted distinct-value list
    # (cluster-word2vec.ipynb cell 12 groupby().apply(set))
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types")
    )


def _q_mercator_xy(spark, sf_dir):
    # F3: EPSG:4326 -> 3857 closed-form reprojection as JVM expressions
    # (whole-stage codegen; the Arrow-UDF variant lives in hexlib.geom)
    import math

    emb = _load(spark, sf_dir, "embeddings")
    # cast float32 components to double BEFORE arithmetic: both engines
    # must promote at the same point or they differ at ~1e-8 relative
    lat = F.greatest(
        F.least(F.element_at(F.col("embedding"), 1).cast("double") * 60.0, F.lit(85.0)),
        F.lit(-85.0),
    )
    lng = F.element_at(F.col("embedding"), 2).cast("double") * 180.0
    r = 6378137.0
    x = F.radians(lng) * r
    y = F.log(F.tan(F.lit(math.pi / 4) + F.radians(lat) / 2)) * r
    return emb.select("vec_id", F.round(x, 4).alias("x"), F.round(y, 4).alias("y"))


def _q_presence_counts(spark, sf_dir):
    # A3: conditional presence sums (make_dataset.py:174-190)
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("double").alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("double").alias("n_view"),
        F.count(F.lit(1)).alias("n_total"),
    )


def _q_counts_desc(spark, sf_dir):
    # A4: groupby-size sort desc (cluster-word2vec.ipynb cell 9)
    d = _load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _q_distinct_per_key(spark, sf_dir):
    # A7: key -> value-set size (cluster-word2vec.ipynb cell 12)
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.countDistinct("event_type").alias("n_types"))


def _q_dedup_exact(spark, sf_dir):
    from hex2vec_spark.operators.dedup import exact_dedup

    # round 6 (guide §2.5): single-row-group input — repartition after
    # the read so the regex normalize + md5 use every core (see
    # _q_explode_trim); fp/groupBy results are partitioning-agnostic
    docs = _load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return exact_dedup(docs).select("fp", "doc_id", "n_dupes")


def _q_quality(spark, sf_dir):
    from hex2vec_spark.operators.text import quality_score

    # round 6: single-row-group input — spread the regex ratio exprs
    d = _docs_parallel(spark, sf_dir)
    return quality_score(d).select(
        "doc_id", "len_chars",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
    )


def _q_lang_id(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    lowered = F.transform(words, lambda w: F.lower(w))
    from hex2vec_spark.operators.text import STOPWORDS_EN

    n_stop = F.size(F.filter(lowered, lambda w: w.isin(STOPWORDS_EN)))
    ratio = F.when(F.size(words) > 0, n_stop / F.size(words)).otherwise(0.0)
    return d.select(
        "doc_id", F.when(ratio >= 0.08, "en").otherwise("other").alias("lang_pred")
    )


def _q_bpe_token_count(spark, sf_dir):
    from hex2vec_spark.operators.text import bpe_token_count

    # round 6: single-row-group input — spread the tokenize (see _docs_parallel)
    d = _docs_parallel(spark, sf_dir)
    return bpe_token_count(d).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


def _q_lang_id_ngram(spark, sf_dir):
    from hex2vec_spark.operators.text import lang_id_ngram

    # round 6: single-row-group input — spread the bigram scoring
    d = _docs_parallel(spark, sf_dir)
    return lang_id_ngram(d).select(
        "doc_id", F.round("en_bigram_score", 6).alias("score"), "lang_pred_ngram"
    )


def _q_token_count(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.length("text").alias("len_chars"),
    )


def _q_isin_filter(spark, sf_dir):
    # P5: membership select + negated drop (load_data.py:91-94)
    d = _load(spark, sf_dir, "documents")
    return d.where(F.col("lang").isin("en", "de") & ~F.col("source").isin("web")).select(
        "doc_id", "lang", "source"
    )


def _q_prefix_select(spark, sf_dir):
    # P6: prefix predicate on the narrow feature rows (load_data.py:95-96)
    p = _load(spark, sf_dir, "part")
    return p.where(F.col("p_name").startswith("small")).select("p_partkey", "p_name")


def _q_all_zero_drop(spark, sf_dir):
    # P7: drop rows whose feature columns are all zero (load_data.py:97)
    ev = _load(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)).alias("v_click"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)).alias("v_purchase"),
    )
    return agg.where(F.greatest("v_click", "v_purchase") > 0).select(
        "user_id", F.round("v_click", 4).alias("v_click"), F.round("v_purchase", 4).alias("v_purchase")
    )


def _q_endswith(spark, sf_dir):
    # P10: suffix predicate (cluster-word2vec.ipynb cell 26)
    c = _load(spark, sf_dir, "customer")
    return c.where(F.col("c_name").endswith("7")).select("c_custkey", "c_name")


def _q_feature_support(spark, sf_dir):
    # A5: per-group feature support counts ((df.groupby().sum() > 0).sum())
    ev = _load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
    )
    return per_user.agg(
        F.sum((F.col("n_click") > 0).cast("long")).cast("double").alias("support_click"),
        F.sum((F.col("n_view") > 0).cast("long")).cast("double").alias("support_view"),
    )


def _q_cluster_means(spark, sf_dir):
    # A6: per-label mean vectors (groupby('label').mean(); nb cells 32,40)
    emb = _load(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.round(F.avg(F.element_at(F.col("embedding"), 1)), 6).alias("m0"),
        F.round(F.avg(F.element_at(F.col("embedding"), 2)), 6).alias("m1"),
        F.count(F.lit(1)).alias("n"),
    )


def _q_dropdup(spark, sf_dir):
    # A8: dropDuplicates on a projection (make_dataset.py:52)
    ev = _load(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").dropDuplicates()


def _q_pivot_wide(spark, sf_dir):
    # A1 wide form: bounded-vocab pivot with zero back-fill
    # (make_dataset.py:143-163)
    li = _load(spark, sf_dir, "lineitem")
    narrow = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("double").alias("count")
    )
    return (
        narrow.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.first("count"))
        .na.fill(0.0)
        .select("l_returnflag", F.col("F").alias("n_f"), F.col("O").alias("n_o"))
    )


def _q_union_missing_cols(spark, sf_dir):
    # U1 with schema widening: unionByName(allowMissingColumns=True)
    # (make_dataset.py:161-167 missing-column zero-fill)
    ev = _load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id", F.col("value").alias("v_click"))
    b = ev.where(F.col("event_type") == "view").select("user_id", F.col("value").alias("v_view"))
    u = a.unionByName(b, allowMissingColumns=True).na.fill(0.0)
    return u.groupBy("user_id").agg(
        F.round(F.sum("v_click"), 4).alias("sum_click"),
        F.round(F.sum("v_view"), 4).alias("sum_view"),
        F.count(F.lit(1)).alias("n"),
    )


def _q_knn_bruteforce(spark, sf_dir):
    # J7/W1: cosine top-k against the vec_id=0 embedding (broadcast query)
    from hex2vec_spark.operators.knn import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    # round 6: when the table is one local parquet file, the 1-row
    # query-vector fetch reads it directly (pyarrow predicate scan,
    # ~10 ms) instead of a Spark .first() job (~130 ms) — same float32
    # values, widened identically to Python floats. Any other layout (a
    # Spark-written directory, a remote path) takes the Spark job.
    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isfile(path):
        import pyarrow.dataset as _ds

        tab = _ds.dataset(path).to_table(
            filter=_ds.field("vec_id") == 0, columns=["embedding"]
        )
        vec = tab["embedding"][0].as_py()
    else:
        vec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    query = [float(x) for x in vec]
    top = cosine_topk(emb.where(F.col("vec_id") != 0), query, k=10)
    return top.select("vec_id", F.round("sim", 4).alias("sim"))


def _q_vector_arithmetic(spark, sf_dir):
    # entry point C vector arithmetic (cluster-word2vec.ipynb cells
    # 76-91: em_a + em_b probe): combined query vector -> cosine top-k.
    # Both engines add the float32 components in DOUBLE so sums match.
    from hex2vec_spark.operators.knn import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    rows = {r["vec_id"]: r["embedding"] for r in
            emb.where(F.col("vec_id").isin(1, 2)).select("vec_id", "embedding").collect()}
    query = [float(a) + float(b) for a, b in zip(rows[1], rows[2])]
    top = cosine_topk(emb.where(~F.col("vec_id").isin(1, 2)), query, k=10)
    return top.select("vec_id", F.round("sim", 4).alias("sim"))


def _q_ngram_jaccard(spark, sf_dir):
    # exact n-gram Jaccard near-dup pairs (dedup family, SQL-oracled)
    from hex2vec_spark.operators.dedup import ngram_jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_winnow_fp(spark, sf_dir):
    # winnowing rolling-hash document fingerprints (SQL-oracled: md5 +
    # window-min are identical expressions in DuckDB)
    from hex2vec_spark.operators.text import winnow_fingerprints

    # round 6: spread the per-doc md5 loop across cores (see _docs_parallel)
    return winnow_fingerprints(_docs_parallel(spark, sf_dir), n=3, window=4)


def _q_set_intersect(spark, sf_dir):
    # row-level INTERSECT (beyond-reference set-op surface)
    ev = _load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


def _q_set_except(spark, sf_dir):
    # row-level EXCEPT (distinct semantics == SQL EXCEPT)
    ev = _load(spark, sf_dir, "events")
    a = ev.where((F.col("event_type") == "click") & (F.col("value") > 100)).select("user_id")
    b = ev.where((F.col("event_type") == "purchase") & (F.col("value") > 100)).select("user_id")
    return a.subtract(b)


def _q_regex_extract(spark, sf_dir):
    # F1: regexp_extract — first number embedded in the part name/type
    p = _load(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.regexp_extract(F.col("p_type"), r"([A-Z]+)", 1).alias("first_word")
    )


def _q_substr_index(spark, sf_dir):
    # F1: substring_index — prefix before the first '#' of c_name-style keys
    c = _load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.substring_index(F.col("c_name"), "#", 1).alias("name_prefix")
    )


def _q_json_extract(spark, sf_dir):
    # F5: JSON property extraction from the events.props column
    ev = _load(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object(F.col("props"), "$.k").cast("long").alias("k")
    )


def _q_anti_join(spark, sf_dir):
    # J6 analog: left-anti exclusion (negative-sampling support op) —
    # customers with no high-value order
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def _q_semi_join(spark, sf_dir):
    # P4 at scale: broadcast left-semi membership filter
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return c.join(
        F.broadcast(o.select("o_custkey").distinct()),
        c["c_custkey"] == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey", "c_nationkey")


def _q_join3_revenue(spark, sf_dir):
    # multi-join star query: revenue per nation (broadcast dims, shuffled
    # fact joins — the 100 TB join-shape the engine is designed around)
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    n = _load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def _q_tpch_q6(spark, sf_dir):
    # TPC-H Q6 shape: tight filter + single global agg — the pushdown
    # showcase (every predicate reaches the parquet scan; see
    # tests/test_plans.py::TestScanPlans)
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q_tpch_q3(spark, sf_dir):
    # TPC-H Q3 shape: segment filter -> 3-way join -> group -> top-k
    c = _load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _load(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .limit(10)
    )


def _q_exists_agg(spark, sf_dir):
    # TPC-H Q4 shape: correlated EXISTS (semi-join) -> count per priority
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li.select("l_orderkey").distinct(), o["o_orderkey"] == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_conditional_agg(spark, sf_dir):
    # TPC-H Q12 shape: join + CASE-sum split by a priority class
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("double").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("double").alias("low_line_count"),
        )
    )


def _q_scalar_subquery(spark, sf_dir):
    # scalar-subquery filter: parts priced above the global average
    p = _load(spark, sf_dir, "part")
    avg_price = p.agg(F.avg("p_retailprice")).first()[0]
    return (
        p.where(F.col("p_retailprice") > avg_price)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
    )


_BAL_BUCKETS = [(-100000.0, 0.0, "neg"), (0.0, 3000.0, "low"), (3000.0, 7000.0, "mid"), (7000.0, 100000.0, "high")]


def _q_range_join(spark, sf_dir):
    # broadcast range join: fact value binned against a tiny interval dim
    # (the engine's non-equi surface; H3-prefix ranges use the same shape)
    s = _load(spark, sf_dir, "supplier")
    b = spark.createDataFrame(_BAL_BUCKETS, "lo double, hi double, bucket string")
    return (
        s.join(F.broadcast(b), (s["s_acctbal"] >= b["lo"]) & (s["s_acctbal"] < b["hi"]))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("s_acctbal"), 2).alias("sum_bal"))
    )


def _q_interval_join(spark, sf_dir):
    # big x big range join via bucketized equi-join (operators/joins.py
    # interval_join): order totals probed against supplier-derived value
    # intervals. Unlike range_join (broadcast dim), NEITHER side need fit
    # in memory — intervals explode one row per covered bucket and the
    # range predicate rides as a residual on the bucket equi-join.
    # DECIMAL sums so both engines accumulate exactly.
    from hex2vec_spark.operators.joins import interval_join

    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    iv = (
        _load(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey"),
            (F.col("s_acctbal") * 40.0).alias("lo"),
            (F.col("s_acctbal") * 40.0 + (F.col("s_suppkey") % 7 + 1) * 8000.0).alias("hi"),
        )
    )
    return (
        interval_join(o, iv, "o_totalprice", "lo", "hi", bucket_width=8000.0)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


def _q_tpch_q5(spark, sf_dir):
    # TPC-H Q5 shape: local-supplier revenue — 5-way join where customer
    # and supplier must share the nation, dims broadcast
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _load(spark, sf_dir, "lineitem")
    s = _load(spark, sf_dir, "supplier")
    n = _load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_tpch_q10(spark, sf_dir):
    # TPC-H Q10 shape: returned-item revenue per customer, top 20
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _q_tpch_q18(spark, sf_dir):
    # TPC-H Q18 shape: HAVING-subquery — orders whose total quantity
    # exceeds a threshold, joined back for customer detail
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "o_orderkey",
            F.round("sum_qty", 2).alias("sum_qty"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def _q_tpch_q7(spark, sf_dir):
    # TPC-H Q7 shape (round-5 gate widening): volume shipping between
    # two nations in both directions — the classic join-ORDER stressor
    # (two nation dims constrained as an OR over role pairs), revenue by
    # supplier nation / customer nation / ship year.
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    s = _load(spark, sf_dir, "supplier")
    n1 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_tpch_q8(spark, sf_dir):
    # TPC-H Q8 shape: national market share — fraction of a region's
    # PROMO-part revenue supplied by one nation, per order year
    # (conditional-agg ratio over a 7-way join).
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    s = _load(spark, sf_dir, "supplier")
    p = _load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    n1 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("c_regionkey")
    )
    r = _load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("c_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


def _q_tpch_q9(spark, sf_dir):
    # TPC-H Q9 shape: product-line profit by nation and year. The
    # testdata has no partsupp table, so profit omits the
    # ps_supplycost*l_quantity term (noted adaptation) — the plan shape
    # (part-name filter fanning to a 5-way join, two-key group) is what
    # the gate exercises.
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    s = _load(spark, sf_dir, "supplier")
    p = _load(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = _load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit"))
    )


def _q_tpch_q12(spark, sf_dir):
    # TPC-H Q12 shape: late-shipment priority counts — one join, an
    # IN-set CASE split into two conditional sums per group. The
    # testdata has no l_shipmode/l_commitdate; the group key is
    # l_linestatus and "late" = shipped after the order month
    # (noted adaptation; identical operator shape).
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = _load(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def _q_tpch_q14(spark, sf_dir):
    # TPC-H Q14 shape: promo revenue percentage — single-row
    # conditional-agg ratio over a part join within a ship window.
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01")) & (F.col("l_shipdate") < F.lit("1996-06-01"))
    )
    p = _load(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def _q_tpch_q13(spark, sf_dir):
    # TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    # join with an ON-clause filter (not WHERE: unmatched customers must
    # keep count 0), double aggregation.
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _q_tpch_q17(spark, sf_dir):
    # TPC-H Q17 shape: small-quantity revenue vs a CORRELATED per-part
    # average — expressed decorrelated (per-part 0.2*avg join), the plan
    # Spark's own subquery rewrite produces.
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    lim = li.groupBy(F.col("l_partkey").alias("lp")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_lim")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(lim, li["l_partkey"] == F.col("lp"))
        .where(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def _q_tpch_q19(spark, sf_dir):
    # TPC-H Q19 shape: disjunctive OR-of-ANDs predicate over a join —
    # the pushdown/CNF-conversion stressor.
    li = _load(spark, sf_dir, "lineitem")
    p = _load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .where(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _q_tpch_q22(spark, sf_dir):
    # TPC-H Q22 shape: above-average balances with NO orders — scalar
    # subquery threshold + anti-join, grouped by segment.
    c = _load(spark, sf_dir, "customer")
    # only URGENT orders count as "has orders": at sf0.01 every
    # above-average customer has SOME order, which would gate 0 rows
    o = _load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("ab"))
    no_orders = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def _q_cube_counts(spark, sf_dir):
    # grouping-sets surface (beyond-reference): CUBE over two dims with
    # subtotal rows; nulls sentineled to 'ALL' for a stable oracle
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n",
        )
    )


def _q_salted_join(spark, sf_dir):
    # north_rule skew handling, join side: salted shuffled equi-join ==
    # plain join (here aggregated for a stable oracle)
    from hex2vec_spark.operators.joins import salted_equi_join

    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = li.withColumnRenamed("l_orderkey", "o_orderkey")
    joined = salted_equi_join(li, o, on="o_orderkey", salt_src="l_partkey", n_salt=4)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_windowed_counts(spark, sf_dir):
    # event-time tumbling window counts (batch form of the streaming
    # windowed_event_counts operator)
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type", "n",
        )
    )


def _q_asof_join(spark, sf_dir):
    # ASOF LEFT JOIN (operators/asof): every click gets the user's most
    # recent prior purchase; union-timeline window, ONE shuffle, no
    # inequality-join explosion. Oracle: DuckDB's native ASOF JOIN.
    # Right side deduped per (user, ts) so the tie choice is
    # deterministic on both engines; timestamps compared as epoch
    # microseconds (exact).
    from hex2vec_spark.operators.asof import asof_join

    ev = _load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(clicks, purchases, by="user_id", right_payload=["value"])
    return out.select(
        "event_id",
        # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is
        # value-identity and unix_micros compares exactly vs epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("asof_ts").cast("timestamp")).alias("asof_ts_us"),
        F.col("asof_value").alias("last_purchase"),
    )


def _asof_variant(spark, sf_dir, direction, allow_exact):
    # shared body for the round-4 asof variants (forward / strict
    # inequality) — same click/purchase framing as _q_asof_join, same
    # union-timeline plan, only the scan order / tie rank differ
    from hex2vec_spark.operators.asof import asof_join

    ev = _load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        clicks, purchases, by="user_id", right_payload=["value"],
        direction=direction, allow_exact_matches=allow_exact,
    )
    return out.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("asof_ts").cast("timestamp")).alias("asof_ts_us"),
        F.col("asof_value").alias("matched_value"),
    )


def _q_asof_join_forward(spark, sf_dir):
    # ASOF forward: each click matched to the user's NEXT purchase at or
    # after it (DuckDB: ASOF LEFT JOIN ON l.ts <= r.ts)
    return _asof_variant(spark, sf_dir, "forward", True)


def _q_asof_join_strict(spark, sf_dir):
    # ASOF backward with allow_exact_matches=False: strictly-prior
    # purchase only (DuckDB: ASOF LEFT JOIN ON l.ts > r.ts)
    return _asof_variant(spark, sf_dir, "backward", False)


def _q_asof_join_nearest(spark, sf_dir):
    # ASOF nearest (round 4): closest purchase in absolute time, exact
    # tie -> backward (pandas merge_asof rule); DuckDB oracle = two
    # ASOF joins + a CASE pick
    return _asof_variant(spark, sf_dir, "nearest", True)


def _q_moving_avg(spark, sf_dir):
    # W: sliding-frame window aggregate (ROWS BETWEEN 3 PRECEDING)
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select("event_id", F.round(F.avg("value").over(w), 4).alias("mavg4"))


def _q_date_trunc_counts(spark, sf_dir):
    # F6 (round 4): calendar bucketing — events per hour
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(
                F.date_trunc("hour", F.col("ts")).cast("timestamp")
            ).alias("hour_us")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _q_filtered_sums(spark, sf_dir):
    # A (round 4): filtered/conditional aggregates per event type
    # value cast to DECIMAL before summing so both engines accumulate
    # EXACTLY (float addition order differs engine to engine)
    ev = _load(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,6)")
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 50, 1)).cast("long").alias("n_big"),
        F.sum(F.when(F.col("value") > 50, dv)).cast("double").alias("sum_big"),
        F.count(F.when(F.col("value") <= 50, 1)).cast("long").alias("n_small"),
        F.sum(F.when(F.col("value") <= 50, dv)).cast("double").alias("sum_small"),
    )


def _q_string_agg_ordered(spark, sf_dir):
    # A/F1 (round 4): deterministic ordered string aggregation — the
    # engine sorts the collected list (collect_list order is
    # nondeterministic), the oracle uses ORDER BY inside string_agg
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") % 50 == 0)
        .groupBy("lang")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("source"))), ","
            ).alias("sources")
        )
    )


def _q_regex_replace_count(spark, sf_dir):
    # F1 (round 4): regexp_replace + per-row match counting (digit runs
    # collapsed; counts via the split-size identity so both engines use
    # their native regex only for splitting/replacing)
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), "[aeiou]+", "~")).alias("len_collapsed"),
        (F.size(F.split(F.col("text"), "[aeiou]+")) - 1).cast("long").alias("n_vowel_runs"),
    )


def _q_ntile_buckets(spark, sf_dir):
    # W (round 4): NTILE quartiles per user by event time — the
    # remaining ranking function family member not yet oracled
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", F.ntile(4).over(w).alias("bucket"))


def _q_first_last_frame(spark, sf_dir):
    # W (round 4): first/last value over an explicit sliding frame
    # (value-picking window functions, exact — no float accumulation)
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return ev.select(
        "event_id",
        F.first("value").over(w).alias("fv"),
        F.last("value").over(w).alias("lv"),
    )


def _q_range_frame_count(spark, sf_dir):
    # W (round 4): RANGE frame keyed on the VALUE axis (how many events
    # of the same type lie within 10.0 below this one's value) — count,
    # not sum, so both engines are exact under ties and float order
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type").orderBy("value")
        .rangeBetween(-10, Window.currentRow)
    )
    return ev.select(
        "event_id", F.count(F.lit(1)).over(w).cast("long").alias("n_within")
    )


def _q_array_setops(spark, sf_dir):
    # F (round 4): array set algebra — distinct head-words vs tail-words
    # of each document, sizes of intersect/except/union (sizes compare
    # exactly; element order differs by engine)
    docs = _load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    head = F.array_distinct(F.slice(words, 1, 5))
    tail = F.array_distinct(
        F.slice(words, F.greatest(F.size(words) - F.lit(4), F.lit(1)), 5)
    )
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(head, tail)).cast("long").alias("n_common"),
        F.size(F.array_except(head, tail)).cast("long").alias("n_head_only"),
        F.size(F.array_union(head, tail)).cast("long").alias("n_all"),
    )


def _q_cumsum_running(spark, sf_dir):
    # W: running total; value cast to DECIMAL so the cumulative sum is
    # EXACT on both engines (float accumulation order would differ)
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        # decimal accumulation is exact; render as double for the
        # cross-engine compare (DuckDB's df() yields float64)
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
        .cast("double").alias("run_total"),
    )


def _q_lag_delta(spark, sf_dir):
    # W: lag(1) per-user deltas
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta"),
    )


def _q_dense_rank_filter(spark, sf_dir):
    # W: dense_rank with a rank predicate (top-5 values per event type)
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        ev.select("event_type", "event_id", F.dense_rank().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
    )


def _q_rollup_counts(spark, sf_dir):
    # A: ROLLUP hierarchy totals (sibling of cube_counts)
    o = _load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def _q_unpivot_long(spark, sf_dir):
    # P: wide -> long melt via the native unpivot operator
    o = _load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    ).unpivot(["o_orderkey"], ["totalprice", "custkey"], "metric", "val")


def _q_levenshtein_pairs(spark, sf_dir):
    # F1/dedup-family: edit distance over document-prefix pairs
    d = (
        _load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 15)
        .select("doc_id", F.substring("text", 1, 40).alias("s"))
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.s"), F.col("b.s")).alias("edit_dist"),
        )
    )


def _q_percentile_groups(spark, sf_dir):
    # A/F4: exact interpolated percentiles per group (Spark percentile
    # == DuckDB quantile_cont: both linear interpolation at p*(n-1))
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("q50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("q75"),
    )


# ---- image/H3 pipeline queries (not SQL-expressible -> rows-only checks;
# ---- exact pandas-oracle equivalence lives in tests/test_pipeline.py)

def _q_hex_features(spark, sf_dir):
    from hex2vec_spark.operators.agg import hex_features
    from hex2vec_spark.operators.spatial import spatial_join

    joined = spatial_join(_images(spark), _tiling_sdf(spark), res=ENTRY_RES)
    return hex_features(joined)


def _q_knn_join(spark, sf_dir):
    # bounded spatial kNN join (operators/geo_join.knn_join): each
    # point's 5 nearest neighbors within 2 km — distance_join's grid
    # equi-join + one window; oracle is the quadratic pair table with
    # the identical (dist, id) ordering under DuckDB QUALIFY.
    from hex2vec_spark.operators.geo_join import knn_join

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(500)
        .select(
            "vec_id",
            (F.lit(50.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.3).alias("lat"),
            (F.lit(19.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.45).alias("lng"),
        )
    )
    right = pts.select(
        F.col("vec_id").alias("r_id"), F.col("lat").alias("rlat"), F.col("lng").alias("rlng")
    )
    out = knn_join(
        pts, right, 5, 2000.0,
        left_id_cols=["vec_id"], tiebreak_cols=["r_id"],
        right_lat_col="rlat", right_lng_col="rlng",
        pair_filter=F.col("vec_id") != F.col("r_id"),
    )
    return out.select(
        F.col("vec_id").alias("l_id"), "r_id", "knn_rank",
        F.round("dist_m", 3).alias("dist_m"),
    )


def _q_knn_join_full(spark, sf_dir):
    # round-5 full-coverage kNN join (geo_join.knn_join_full): radius-
    # doubling retries give every left row its TRUE unbounded top-k, so
    # the oracle is the plain quadratic QUALIFY top-k with NO radius
    # clause — the strongest possible check of the escape hatch. The
    # initial radius is deliberately too small (200 m) so several
    # doubling rounds actually execute at gate time.
    from hex2vec_spark.operators.geo_join import knn_join_full

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(200)
        .select(
            "vec_id",
            (F.lit(50.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.3).alias("lat"),
            (F.lit(19.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.45).alias("lng"),
        )
    )
    right = pts.select(
        F.col("vec_id").alias("r_id"), F.col("lat").alias("rlat"), F.col("lng").alias("rlng")
    )
    out = knn_join_full(
        pts, right, 3, 200.0,
        left_id_cols=["vec_id"], tiebreak_cols=["r_id"],
        right_lat_col="rlat", right_lng_col="rlng",
        max_doublings=10,  # 200 m * 2^10 ~ 205 km >> the point spread
        pair_filter=F.col("vec_id") != F.col("r_id"),
    )
    return out.select(
        F.col("vec_id").alias("l_id"), "r_id", "knn_rank",
        F.round("dist_m", 3).alias("dist_m"),
    )


def _q_destination(spark, sf_dir):
    # inverse geodesy: destination point from (origin, bearing,
    # distance) (operators/geo_join.destination_expr) — term-identical
    # DuckDB oracle
    from hex2vec_spark.operators.geo_join import destination_expr

    emb = _load(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id",
        ((F.element_at(F.col("embedding"), 1).cast("double") + 1.0) * 180.0).alias("brg"),
        (F.abs(F.element_at(F.col("embedding"), 2).cast("double")) * 50000.0).alias("d"),
    )
    dest = rows.select(
        "vec_id",
        destination_expr(F.lit(50.0), F.lit(19.0), F.col("brg"), F.col("d")).alias("p"),
    )
    return dest.select(
        "vec_id",
        F.round(F.col("p.lat"), 6).alias("dest_lat"),
        F.round(F.col("p.lng"), 6).alias("dest_lng"),
    )


def _q_region_hulls(spark, sf_dir):
    # per-region convex hull of image geotags (operators/geo_join.
    # convex_hull, Andrew monotone chain per group): the spatial extent
    # summary. Rows-only; exact brute-force hull oracle in
    # tests/test_geo_join.py.
    from hex2vec_spark.functions.h3_fns import geotag
    from hex2vec_spark.operators.geo_join import convex_hull
    from hex2vec_spark.operators.spatial import spatial_join

    joined = spatial_join(_images(spark), _tiling_sdf(spark), res=ENTRY_RES)
    pts = joined.select(
        "region_id", geotag(F.col("phash")).alias("g")
    ).select("region_id", F.col("g.lat").alias("lat"), F.col("g.lng").alias("lng"))
    hulls = convex_hull(pts, ["region_id"])
    return hulls.select(
        "region_id", "n_hull", "n_points",
        F.round(F.aggregate("hull_lat", F.lit(0.0), lambda a, x: a + x) / F.col("n_hull"), 6).alias("hull_lat_mean"),
        F.round(F.aggregate("hull_lng", F.lit(0.0), lambda a, x: a + x) / F.col("n_hull"), 6).alias("hull_lng_mean"),
        F.round(F.col("hull_area_m2") / 1e6, 4).alias("hull_area_km2"),
    )


def _q_bearing(spark, sf_dir):
    # forward azimuth from a fixed origin to every synthetic geotag
    # (operators/geo_join.bearing_deg_expr — atan2 form, [0,360));
    # oracle is the term-identical formula in DuckDB
    from hex2vec_spark.operators.geo_join import bearing_deg_expr, haversine_m_expr

    emb = _load(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        (F.lit(50.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.3).alias("lat"),
        (F.lit(19.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.45).alias("lng"),
    )
    o_lat, o_lng = F.lit(50.0), F.lit(19.0)
    return pts.select(
        "vec_id",
        F.round(bearing_deg_expr(o_lat, o_lng, F.col("lat"), F.col("lng")), 4).alias("bearing_deg"),
        F.round(haversine_m_expr(o_lat, o_lng, F.col("lat"), F.col("lng")), 3).alias("dist_m"),
    )


def _q_hex_density(spark, sf_dir):
    # per-hex image density (images/km^2): counts over the spatial join,
    # normalized by the cell's TRUE spherical area (hexlib.h3core.
    # cell_area_m2, L'Huilier excess — not the global-average edge
    # formula, which is ~9% off in this region). Rows-only (the area
    # kernel is not SQL-expressible); area invariants pinned in
    # tests/test_hexlib.py::TestCellArea.
    from hex2vec_spark.functions.h3_fns import h3_area_m2
    from hex2vec_spark.operators.spatial import spatial_join

    joined = spatial_join(_images(spark), _tiling_sdf(spark), res=ENTRY_RES)
    counts = joined.groupBy("region_id", "h3").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "region_id", "h3", "n",
        F.round(F.col("n") / (h3_area_m2(F.col("h3")) / 1e6), 4).alias("images_per_km2"),
    )


def _q_grid_paths(spark, sf_dir):
    # h3_line analog (hexlib.h3core.grid_path via functions.h3_fns.
    # h3_path): greedy geodesic cell walk between nearby synthetic
    # geotag pairs — every consecutive pair adjacent, endpoints
    # inclusive, shortest on the face interior (kernel properties
    # pinned in tests/test_hexlib.py::TestGridPath). Rows-only.
    from hex2vec_spark.functions.h3_fns import h3_encode_udf, h3_path

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(200)
        .select(
            "vec_id",
            (F.lit(41.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.05).alias("lat1"),
            (F.lit(15.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.05).alias("lng1"),
            (F.lit(41.0) + F.element_at(F.col("embedding"), 3).cast("double") * 0.05).alias("lat2"),
            (F.lit(15.0) + F.element_at(F.col("embedding"), 4).cast("double") * 0.05).alias("lng2"),
        )
    )
    enc = h3_encode_udf(8)
    cells = pts.select(
        "vec_id",
        enc(F.col("lat1"), F.col("lng1")).alias("a"),
        enc(F.col("lat2"), F.col("lng2")).alias("b"),
    )
    return cells.select(
        "vec_id", "a", "b", F.size(h3_path(F.col("a"), F.col("b"))).alias("n_cells")
    )


def _q_path_length(spark, sf_dir):
    # per-user trajectory length: synthetic geotags per event (pure
    # integer-modulo derivation so both engines compute identical
    # doubles), ordered haversine legs via lag window, summed per user
    # (operators/geo_join.haversine_m_expr as the leg metric)
    from pyspark.sql import Window

    from hex2vec_spark.operators.geo_join import haversine_m_expr

    ev = _load(spark, sf_dir, "events")
    # round 6 (guide §2.3 "shuffle keys and metadata instead of
    # payloads"): lat/lng are PURE FUNCTIONS of event_id, so the window
    # exchange ships only (user_id, ts, event_id) — 24 B/row instead of
    # 44 — and the coordinates (current AND lagged) are derived AFTER
    # the shuffle from event_id / lag(event_id). Same formulas on the
    # same inputs -> bit-identical doubles (row equality vs the old
    # plan asserted before landing); the single-row-group events scan
    # also sheds its serial map-side trig.
    def _lat(c):
        return F.lit(50.0) + (c % 997) / 997.0 * 0.5

    def _lng(c):
        return F.lit(19.0) + (c % 1009) / 1009.0 * 0.8

    pts = ev.select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # explicit NULL guard on the first row per user: least/greatest
    # IGNORE nulls in both engines, so an unguarded NULL lag would
    # silently evaluate to asin(1) — half the earth's circumference
    prev = F.lag("event_id", 1).over(w)
    legs = pts.select(
        "user_id",
        F.when(
            prev.isNotNull(),
            haversine_m_expr(
                _lat(prev), _lng(prev), _lat(F.col("event_id")), _lng(F.col("event_id"))
            ),
        ).alias("leg"),
    )
    return legs.groupBy("user_id").agg(
        F.round(F.sum("leg") / 1000.0, 3).alias("path_km"),
        F.count("leg").alias("n_legs"),
    )


def _q_pip_join(spark, sf_dir):
    # big x big point-in-polygon join (operators/geo_join.pip_join):
    # polygons explode to their bbox grid buckets, points hash to home
    # buckets, one equi-join + the JVM ray-cast filter. Rows-only (PIP is
    # not tractably SQL-expressible); the exact quadratic oracle lives
    # in tests/test_geo_join.py::test_pip_join_vs_quadratic_oracle.
    from hex2vec_spark.operators.geo_join import pip_join
    from hex2vec_spark.sources.synth import polygon_objects_table

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(500)
        .select(
            "vec_id",
            (F.lit(41.0) + F.element_at(F.col("embedding"), 1).cast("double") * 2.5).alias("lat"),
            (F.lit(15.5) + F.element_at(F.col("embedding"), 2).cast("double") * 3.75).alias("lng"),
        )
    )
    polys = polygon_objects_table(spark, 2000)
    return pip_join(pts, polys, cell_deg=0.05).select("vec_id", "obj_id")


def _q_pip_join_holes(spark, sf_dir, broadcast_polys=False):
    # pip_join over polygons WITH interior rings (geo_join.pip_join
    # holes_lat/holes_lng; even-odd over exterior + holes,
    # hexlib.geom.points_in_polygon_with_holes — the reference's sjoin
    # on shapely polygons with interiors, make_dataset.py:96-99).
    # Axis-aligned fixture rectangles make the semantics fully
    # SQL-expressible, so unlike pip_join_assign this entry is
    # DuckDB-oracled end to end (rect containment minus per-part holes,
    # union over MultiPolygon parts, DISTINCT per (point, id)).
    from hex2vec_spark.operators.geo_join import pip_join

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(500)
        .select(
            "vec_id",
            (F.lit(41.0) + F.element_at(F.col("embedding"), 1).cast("double") * 2.5).alias("lat"),
            (F.lit(15.5) + F.element_at(F.col("embedding"), 2).cast("double") * 3.75).alias("lng"),
        )
    )

    def rect(la0, la1, lg0, lg1):
        return [la0, la0, la1, la1], [lg0, lg1, lg1, lg0]

    rows = []
    ela, elg = rect(40.02, 41.03, 15.01, 16.04)
    h1a, h1g = rect(40.31, 40.72, 15.33, 15.71)
    rows.append(("A", ela, elg, [h1a], [h1g]))
    ela, elg = rect(41.21, 42.23, 15.02, 16.01)
    h2a, h2g = rect(41.32, 41.51, 15.11, 15.42)
    h3a, h3g = rect(41.81, 42.02, 15.61, 15.92)
    rows.append(("B", ela, elg, [h2a, h3a], [h2g, h3g]))
    ela, elg = rect(40.03, 41.01, 16.21, 17.23)
    rows.append(("C", ela, elg, None, None))
    ela, elg = rect(41.22, 41.63, 16.22, 16.81)
    h4a, h4g = rect(41.31, 41.42, 16.41, 16.62)
    rows.append(("D", ela, elg, [h4a], [h4g]))
    ela, elg = rect(41.81, 42.21, 16.23, 16.82)
    rows.append(("D", ela, elg, None, None))
    # createDataFrame on a PANDAS frame (Arrow path), not a raw row
    # list — the list path parallelizes 5 rows into defaultParallelism
    # pickled-Python RDD slices, one Python-worker task each
    # (OPTIMIZATION_r06.md). Arrow conversion keeps the declared schema
    # (and nullability) bit-identical.
    import pandas as _pd

    polys = spark.createDataFrame(
        _pd.DataFrame(
            rows,
            columns=["obj_id", "ring_lat", "ring_lng", "holes_lat", "holes_lng"],
        ),
        schema="obj_id string, ring_lat array<double>, ring_lng array<double>, "
               "holes_lat array<array<double>>, holes_lng array<array<double>>",
    )
    return pip_join(
        pts, polys, cell_deg=0.3, broadcast_polys=broadcast_polys
    ).select("vec_id", "obj_id")


def _q_pip_join_broadcast(spark, sf_dir):
    # pip_join_holes through the broadcast plan (pip_join
    # broadcast_polys=True): same holed fixture and DuckDB oracle, no
    # point shuffle into the bucket join — plan-pinned in
    # tests/test_geo_join.py::TestPipJoinBroadcast.
    return _q_pip_join_holes(spark, sf_dir, broadcast_polys=True)


def _q_rasterize_regions(spark, sf_dir):
    # vector -> raster (operators/raster.rasterize_hex): per-region
    # image counts per hex rendered to georeferenced grayscale PNGs via
    # the from-scratch codec; emitted as checksummed metadata rows
    # (binary payload is not SQL-expressible -> rows-only gate entry;
    # the exact pixel oracle lives in tests/test_raster.py).
    from hex2vec_spark.operators.raster import rasterize_hex
    from hex2vec_spark.operators.spatial import spatial_join

    joined = spatial_join(_images(spark), _tiling_sdf(spark), res=ENTRY_RES)
    counts = joined.groupBy("region_id", "h3").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    imgs = rasterize_hex(
        counts, "n", group_cols=["region_id"], width=128, height=128, vmin=0.0, vmax=64.0
    )
    return imgs.select(
        "region_id", "fmt", "w", "h", "vmin", "vmax",
        F.md5(F.col("bytes")).alias("png_md5"),
        F.round("lat0", 6).alias("lat0"), F.round("lat1", 6).alias("lat1"),
        F.round("lng0", 6).alias("lng0"), F.round("lng1", 6).alias("lng1"),
    )


def _q_assignments(spark, sf_dir):
    # the interim (image_id, h3, region_id) spatial-join output rows
    from hex2vec_spark.operators.spatial import spatial_join

    return spatial_join(_images(spark), _tiling_sdf(spark), res=ENTRY_RES).select(
        "image_id", "h3", "region_id"
    )


def _q_polygon_assign(spark, sf_dir):
    # J1(b): polygon objects -> intersect-cover -> explode -> equi-join
    from hex2vec_spark.operators.spatial import polygon_spatial_join
    from hex2vec_spark.sources.synth import polygon_objects_table

    objs = polygon_objects_table(spark, 800)
    return polygon_spatial_join(objs, _tiling_sdf(spark), res=ENTRY_RES).select(
        "obj_id", "h3", "region_id"
    )


def _q_pipeline_e2e(spark, sf_dir):
    # entry point A end-to-end: resumable assign stage -> salted feature
    # agg -> versioned snapshot commit -> S7 read-back (fresh temp root
    # per call; determinism of the result is pandas-oracle-tested)
    import shutil
    import tempfile

    from hex2vec_spark.plans.pipeline import build_dataset, load_processed
    from hex2vec_spark.sources.synth import regions_pandas

    root = tempfile.mkdtemp(prefix="hexds_")
    try:
        build_dataset(
            spark, _images(spark, 2000), regions_pandas(), root,
            res=ENTRY_RES, n_buckets=2, input_fingerprint="gate",
        )
        # collect the (small) result so the workspace can be removed —
        # returning a lazy DF over the tempdir would leak it per gate run
        pdf = load_processed(spark, root).select(
            "region_id", "h3", "feature", "count"
        ).toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf)


def _q_neighbor_dataset(spark, sf_dir):
    # entry point B end-to-end: committed features -> corpus -> context
    # pairs + excluded negatives as one training table
    import shutil
    import tempfile

    from hex2vec_spark.plans.pipeline import build_dataset, build_neighbor_dataset
    from hex2vec_spark.sources.synth import regions_pandas

    root = tempfile.mkdtemp(prefix="hexnb_")
    try:
        build_dataset(
            spark, _images(spark, 1500), regions_pandas(), root,
            res=ENTRY_RES, n_buckets=2, input_fingerprint="gate",
        )
        ds = build_neighbor_dataset(spark, root, k=1, n_negatives=2)
        pdf = ds.select(
            "input_h3", "context_h3", F.size("neg_h3s").alias("n_negs")
        ).toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf)


def _q_context_pairs(spark, sf_dir):
    from hex2vec_spark.operators.neighbors import context_pairs
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = assign_h3(_images(spark), res=ENTRY_RES).select("h3").distinct()
    return context_pairs(corpus, k=1)


def _q_neg_samples(spark, sf_dir):
    # J6: k_ring(2)-excluded deterministic negative sampling
    from hex2vec_spark.operators.neighbors import sample_negatives
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = assign_h3(_images(spark, 1000), res=ENTRY_RES).select("h3").distinct()
    return sample_negatives(corpus, n_per_input=2)


def _q_h3_strings(spark, sf_dir):
    # F2 presentation edge: long cell id -> 15-char hex string
    from hex2vec_spark.functions.viz import with_h3_str
    from hex2vec_spark.operators.spatial import assign_h3

    cells = assign_h3(_images(spark, 1000), res=ENTRY_RES).select("h3").distinct()
    return with_h3_str(cells).select("h3", "h3_str")


def _q_knn_centroids(spark, sf_dir):
    from hex2vec_spark.operators.knn import knn_cell_centroids
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = assign_h3(_images(spark), res=ENTRY_RES)
    return knn_cell_centroids(corpus, (41.0, 15.5), k=10)


def _q_knn_centroids_pruned(spark, sf_dir):
    # north_star: kNN over cell centroids via broadcast cell-prefix trie
    from hex2vec_spark.operators.knn import knn_cell_centroids_pruned
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = assign_h3(_images(spark), res=ENTRY_RES)
    return knn_cell_centroids_pruned(corpus, (41.0, 15.5), k=10, res=ENTRY_RES)


def _q_phash_near_dup(spark, sf_dir):
    from hex2vec_spark.operators.dedup import phash_near_dup

    return phash_near_dup(_images(spark), max_hamming=6)


def _q_minhash_pairs(spark, sf_dir):
    from hex2vec_spark.operators.dedup import minhash_lsh_pairs

    # round 6: repartition AFTER the limit (row set unchanged) so the
    # Arrow tokenize/signature stage uses every core (see _docs_parallel)
    return minhash_lsh_pairs(_docs_parallel(spark, sf_dir, limit=2000))


def _q_simhash(spark, sf_dir):
    from hex2vec_spark.operators.dedup import simhash_udf

    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", simhash_udf()(F.col("text")).alias("simhash")).limit(2000)


def _q_embedding_near_dup(spark, sf_dir):
    from hex2vec_spark.operators.dedup import embedding_near_dup

    # synthetic embeddings are near-orthogonal (max pairwise cosine ~0.51
    # at sf0.01); 0.35 exercises the per-bucket cosine verify with rows
    return embedding_near_dup(_load(spark, sf_dir, "embeddings"), threshold=0.35, n_planes=4)


def _q_tile_hex_bins(spark, sf_dir):
    # raster -> hexagon binning (north_star F7)
    from hex2vec_spark.functions.image_fns import tile_hex_bins_udf

    img = _images(spark)
    tiles = img.select(
        "image_id",
        F.explode(tile_hex_bins_udf(res=ENTRY_RES)(F.col("phash"), F.col("w"), F.col("h"))).alias("h3"),
    )
    return tiles.groupBy("h3").agg(F.count(F.lit(1)).alias("n_tiles"))


def _q_image_stats(spark, sf_dir):
    from hex2vec_spark.functions.image_fns import image_stats

    img = _images(spark, 500)
    s = img.select("image_id", image_stats(F.col("bytes"), F.col("fmt")).alias("st"))
    return s.select("image_id", F.round("st.mean_r", 3).alias("mean_r"), F.col("st.n_px").alias("n_px"))


def _q_knn_ivf(spark, sf_dir):
    # ANN scale path: IVF inverted lists, n_probe of n_lists scanned
    from hex2vec_spark.operators.knn import cosine_topk_ivf

    emb = _load(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    top = cosine_topk_ivf(emb.where(F.col("vec_id") != 0), query, k=10, n_lists=8, n_probe=4)
    return top.select("vec_id", F.round("sim", 4).alias("sim"))


def _q_kmeans(spark, sf_dir):
    # §3.3 clustering (cluster-word2vec.ipynb cells 28-49): distributed
    # Lloyd's — broadcast-centroid assignment + partial-sum updates;
    # deterministic seeded init, so labels are stable run to run
    from hex2vec_spark.operators.cluster import kmeans_fit, kmeans_transform

    emb = _load(spark, sf_dir, "embeddings")
    cents, _ = kmeans_fit(emb, k=6, max_iter=8)
    labeled = kmeans_transform(emb, cents)
    return labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))


def _q_knn_ivf_index(spark, sf_dir):
    # IVF index *at rest*: corpus rewritten partitioned by inverted-list
    # id; the probe scans only n_probe/n_lists partitions (file pruning).
    # Fresh temp index per call: a /tmp cache keyed by the fixture dir
    # name would silently serve stale vectors after fixtures regenerate.
    import shutil
    import tempfile

    from hex2vec_spark.operators.knn import build_ivf_index, query_ivf_index

    emb = _load(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") != 0)
    path = tempfile.mkdtemp(prefix="hexivf_")
    try:
        build_ivf_index(corpus, path, n_lists=8)
        qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
        query = [float(x) for x in qrow["embedding"]]
        top = query_ivf_index(spark, path, query, k=10, n_probe=4)
        pdf = top.select("vec_id", F.round("sim", 4).alias("sim")).toPandas()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(pdf)


def _q_knn_lsh(spark, sf_dir):
    # ANN alternative: random-hyperplane LSH bucket probe
    from hex2vec_spark.operators.knn import cosine_topk_lsh

    emb = _load(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    top = cosine_topk_lsh(emb.where(F.col("vec_id") != 0), query, k=10, n_planes=6, probe_hamming=1)
    return top.select("vec_id", F.round("sim", 4).alias("sim"))


def _q_strict_pip(spark, sf_dir):
    # exact point-in-polygon refine on top of the H3-equi join
    from hex2vec_spark.operators.spatial import spatial_join, strict_region_assign
    from hex2vec_spark.sources.synth import regions_pandas

    joined = spatial_join(_images(spark, 1000), _tiling_sdf(spark), res=ENTRY_RES)
    return strict_region_assign(joined, regions_pandas(), res=ENTRY_RES).select(
        "image_id", "h3", "region_id"
    )


def _q_resize_images(spark, sf_dir):
    # multimodal: real decode -> area resize -> PNG re-encode
    from hex2vec_spark.functions.multimodal import resize_images

    out = resize_images(_images(spark, 300), out_w=8, out_h=8)
    return out.select("image_id", "w", "h", F.length("bytes_small").alias("n_bytes"))


def _q_frame_sample(spark, sf_dir):
    # multimodal: REAL video path (round 4) — pure-NumPy Y4M decode over
    # deterministic synthesized clips; only the sampled frames are read
    # (frame offsets computed from the header), pHash = the image DCT hash
    import pandas as pd

    from hex2vec_spark.functions.multimodal import sample_frames
    from hex2vec_spark.hexlib.video import synth_y4m_bytes

    vids = spark.createDataFrame(
        pd.DataFrame({
            "image_id": [f"v{i:03d}" for i in range(150)],
            "bytes": [synth_y4m_bytes(i, n_frames=8, w=32, h=24) for i in range(150)],
        })
    )
    return sample_frames(vids, n_frames=3)


def _q_video_frame_stats(spark, sf_dir):
    # multimodal: the video->image bridge — extract_frames re-encodes
    # sampled Y4M frames as PNG rows, which the unchanged image operators
    # (image_stats here) consume directly
    import pandas as pd

    from hex2vec_spark.functions.image_fns import image_stats
    from hex2vec_spark.functions.multimodal import extract_frames
    from hex2vec_spark.hexlib.video import synth_y4m_bytes

    vids = spark.createDataFrame(
        pd.DataFrame({
            "image_id": [f"v{i:03d}" for i in range(100)],
            "bytes": [synth_y4m_bytes(i, n_frames=6, w=32, h=24) for i in range(100)],
        })
    )
    frames = extract_frames(vids, n_frames=2)
    return frames.select(
        "image_id", "frame_idx", "t_ms",
        image_stats(F.col("bytes"), F.col("fmt")).alias("s"),
    ).select(
        "image_id", "frame_idx", "t_ms",
        F.round("s.mean_r", 4).alias("mean_r"),
        F.round("s.mean_g", 4).alias("mean_g"),
        F.round("s.mean_b", 4).alias("mean_b"),
    )


def _q_audio_features(spark, sf_dir):
    # multimodal: REAL audio path (round 2) — stdlib-wave PCM decode +
    # NumPy MFCC over deterministic synthesized WAV clips
    import pandas as pd

    from hex2vec_spark.functions.multimodal import audio_features_udf, synth_wav_bytes

    clips = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": range(200), "bytes": [synth_wav_bytes(i) for i in range(200)]}
        )
    )
    feats = clips.select(
        "clip_id", audio_features_udf(n_mfcc=4, fake=False)(F.col("bytes")).alias("a")
    )
    return feats.select(
        "clip_id",
        F.round("a.duration_s", 6).alias("duration_s"),
        F.round("a.rms", 6).alias("rms"),
        F.round(F.element_at("a.mfcc", 1), 6).alias("mfcc0"),
    )


def _doc_token_counts(spark, sf_dir):
    """Narrow (doc_id, token, cnt) counts — shared input of the
    normalization queries; mirrors the oracle's UNNEST(string_split)."""
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .withColumn("token", F.trim("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_tfidf(spark, sf_dir):
    # pre-clustering normalization (reference clustering.py:20-26,
    # sklearn TfidfTransformer semantics: smooth idf + L2 row norm)
    from hex2vec_spark.operators.prep import tfidf

    out = tfidf(_doc_token_counts(spark, sf_dir), key_col="doc_id",
                feature_col="token", value_col="cnt")
    return out.select("doc_id", "token", F.round("tfidf", 6).alias("tfidf"))


def _q_standardize(spark, sf_dir):
    # reference clustering.py:27-35 StandardScaler (population std,
    # zero-variance -> divide by 1) over a narrow feature table
    from hex2vec_spark.operators.prep import standardize

    s = _load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("feature"), F.col("s_acctbal").alias("cnt")
    )
    out = standardize(s)
    return out.select("s_suppkey", "feature", F.round("z", 6).alias("z"))


def _q_minmax_scale(spark, sf_dir):
    # reference clustering.py:27-35 MinMaxScaler over a narrow table
    from hex2vec_spark.operators.prep import minmax_scale

    c = _load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("feature"), F.col("c_acctbal").alias("cnt")
    )
    out = minmax_scale(c)
    return out.select("c_custkey", "feature", F.round("scaled", 6).alias("scaled"))


def _q_interp_topk(spark, sf_dir):
    # embedding interpolation probe (cluster-word2vec.ipynb cells 86-91:
    # np.linspace between two embeddings, kNN per step) — ONE corpus scan
    from hex2vec_spark.operators.knn import interpolation_topk

    emb = _load(spark, sf_dir, "embeddings")
    rows = {r["vec_id"]: r["embedding"] for r in
            emb.where(F.col("vec_id").isin(1, 2)).select("vec_id", "embedding").collect()}
    a = [float(x) for x in rows[1]]
    b = [float(x) for x in rows[2]]
    top = interpolation_topk(emb.where(~F.col("vec_id").isin(1, 2)), a, b, m=5, k=5)
    return top.select("step", "vec_id", F.round("sim", 4).alias("sim"))


# deterministic SQL-expressible phash synthesis over orders: consecutive
# (even, odd) keys share a base pattern and differ in <=2 planted bits,
# so both engines compute identical phashes AND identical near-dup pairs.
# Integer division is explicit (`div`/`//`) — a double-divide + cast
# would TRUNCATE in Spark but ROUND in DuckDB.
_PHASH_SYNTH_SPARK = "((o_orderkey div 2) * 2654435761)"


def _q_phash_band_pairs(spark, sf_dir):
    # pHash near-dup with the pigeonhole multi-band guarantee, DuckDB-
    # oracled end to end (the sibling `phash_near_dup` runs on the real
    # synthetic image table, rows-only)
    from hex2vec_spark.operators.dedup import phash_near_dup

    o = _load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 8 < 2)
    img = o.select(
        F.col("o_orderkey").alias("oid"),
        F.expr(
            f"CASE WHEN o_orderkey % 2 = 0 THEN {_PHASH_SYNTH_SPARK} "
            f"ELSE ({_PHASH_SYNTH_SPARK} "
            f"      ^ shiftleft(CAST(1 AS BIGINT), CAST(o_orderkey % 60 AS INT)) "
            f"      ^ shiftleft(CAST(1 AS BIGINT), CAST((o_orderkey * 7) % 60 AS INT))) END"
        ).alias("phash"),
    )
    pairs = phash_near_dup(img, max_hamming=6, id_col="oid")
    return pairs.select("id_a", "id_b", "hamming")


def _q_dedup_keep_canonical(spark, sf_dir):
    # the complete near-dup dedup story in one program: MinHash LSH
    # candidate pairs -> connected components -> keep the min-id row per
    # group (rows-only: LSH bucketing is not SQL-expressible; the
    # components stage alone is oracled via `dedup_components`)
    from hex2vec_spark.operators.components import keep_canonical
    from hex2vec_spark.operators.dedup import minhash_lsh_pairs

    d = _load(spark, sf_dir, "documents").limit(1000).localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(d)
    return keep_canonical(d, pairs, "doc_id").select("doc_id", "n_chars")


def _q_agglomerative(spark, sf_dir):
    # reference clustering parity: Ward agglomerative over embeddings
    # (21 of the reference's saved map configs are agglomerative_*);
    # rows-only — hierarchical linkage is not SQL-expressible. Planted-
    # structure and monotonicity pinned in tests/test_embed.py.
    from hex2vec_spark.operators.cluster import agglomerative_fit

    out, _link = agglomerative_fit(_load(spark, sf_dir, "embeddings"), n_clusters=6)
    return spark.createDataFrame(out)


def _q_sessionize(spark, sf_dir):
    # gap-based sessionization over the events table: Spark's built-in
    # session_window (also the streaming-stateful variant, §2.8); the
    # oracle derives identical sessions via lag/cumsum. Boundary pinned
    # by test: session_window MERGES an event exactly `gap` after the
    # previous one (closed interval), so the oracle breaks only at
    # diff > gap.
    from hex2vec_spark.operators.sessions import sessionize

    return sessionize(_load(spark, sf_dir, "events"), gap="30 minutes")


def _q_dedup_components(spark, sf_dir):
    # near-dup pairs -> dedup GROUPS: connected components (alternating
    # large-star/small-star) over deterministic chain edges; the DuckDB
    # oracle computes the same components via a recursive-CTE transitive
    # closure + MIN. Chains span several hops, so this exercises real
    # multi-round convergence, not just pair-folding.
    from hex2vec_spark.operators.components import connected_components

    o = _load(spark, sf_dir, "orders").select("o_orderkey")
    a, b = o.alias("a"), o.alias("b")
    edges = (
        a.join(b, F.col("b.o_orderkey") == F.col("a.o_orderkey") + 32)
        .where(F.expr("(a.o_orderkey div 32) % 4 < 3"))
        .select(F.col("a.o_orderkey").alias("id_a"), F.col("b.o_orderkey").alias("id_b"))
    )
    return connected_components(edges)


def _q_global_hybrid_assign(spark, sf_dir):
    # GLOBAL (seam-spanning) encode: the bbox is not face-interior, so
    # operators/spatial.assign_h3 runs the Arrow NumPy kernel; rows-only
    # here (H3 not SQL-expressible) — tests/test_ops.py checks
    # the per-base-cell counts against h3_from_phash_np. Output:
    # per-base-cell counts over a deterministic global sample.
    from hex2vec_spark.operators.spatial import assign_h3

    ev = _load(spark, sf_dir, "events").select(
        "event_id", F.col("event_id").cast("long").alias("k")
    )
    src = ev.select(
        "event_id",
        F.xxhash64(F.col("k")).alias("phash"),
    )
    enc = assign_h3(src, res=8, bbox=(-60.0, 60.0, -170.0, 170.0))
    return (
        enc.groupBy(
            F.shiftrightunsigned(F.col("h3"), 45).bitwiseAND(F.lit(127)).alias("base_cell")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("base_cell")
    )


def _q_grouping_sets(spark, sf_dir):
    # A: arbitrary GROUPING SETS (beyond rollup/cube): per-type totals
    # and per-user totals in one aggregation pass
    ev = _load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_gs")
    return spark.sql("""
        SELECT event_type, user_id,
               COUNT(*) AS n,
               CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total
        FROM ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_id))
    """)


def _q_hof_array_ops(spark, sf_dir):
    # F4: higher-order array functions (transform -> filter ->
    # aggregate fold) entirely JVM-side over the embedding vectors
    emb = _load(spark, sf_dir, "embeddings")
    vc = F.col("embedding").cast("array<double>")
    kept = F.filter(F.transform(vc, lambda x: x * x), lambda x: x > 0.25)
    total = F.aggregate(kept, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(total, 4).alias("energy"),
        F.size(kept).alias("n_big"),
    )


def _q_keep_canonical_graph(spark, sf_dir):
    # keep-canonical dedup application, ORACLED (round 3): same
    # deterministic chain edges as `dedup_components`; keep exactly the
    # rows whose id is its component's minimum. The MinHash-fed variant
    # stays rows-only as `dedup_keep_canonical`.
    from hex2vec_spark.operators.components import keep_canonical

    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a, b = o.alias("a"), o.alias("b")
    edges = (
        a.join(b, F.col("b.o_orderkey") == F.col("a.o_orderkey") + 32)
        .where(F.expr("(a.o_orderkey div 32) % 4 < 3"))
        .select(F.col("a.o_orderkey").alias("id_a"), F.col("b.o_orderkey").alias("id_b"))
    )
    return keep_canonical(o, edges, "o_orderkey").select("o_orderkey", "o_totalprice")


def _q_knn_ivf_exact(spark, sf_dir):
    # IVF with n_probe == n_lists scans every list -> EXACT top-k; the
    # driver hash-matches it against the brute-force SQL oracle, pinning
    # the recall-1 configuration of the ANN scale path end-to-end
    from hex2vec_spark.operators.knn import cosine_topk_ivf

    emb = _load(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    top = cosine_topk_ivf(
        emb.where(F.col("vec_id") != 0), query, k=10, n_lists=8, n_probe=8
    )
    return top.select("vec_id", F.round("sim", 4).alias("sim"))


def _q_skipgram_embed(spark, sf_dir):
    # the "2vec" trainer (reference combined.py:1-74) over the engine's
    # own neighbor dataset; rows-only (iterative, not SQL-expressible) —
    # structure/loss properties are pinned in tests/test_embed.py
    from hex2vec_spark.operators.embed import embeddings_table, skipgram_fit
    from hex2vec_spark.operators.neighbors import context_pairs, sample_negatives
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = (
        assign_h3(_images(spark, 1000), res=ENTRY_RES).select("h3").distinct()
    ).localCheckpoint(eager=False)
    pairs = context_pairs(corpus, k=1, materialize=False)
    negs = (
        sample_negatives(corpus, n_per_input=2, k_excl=2, materialize=False)
        .groupBy("input_h3")
        .agg(F.sort_array(F.collect_list("neg_h3")).alias("neg_h3s"))
    )
    ds = pairs.join(negs, "input_h3", "left")
    vocab, w, _losses = skipgram_fit(ds, dim=4, n_iter=2, lr=1.0, seed=11)
    out = embeddings_table(spark, vocab, w)
    return out.select("h3", F.size("embedding").alias("dim"))


def _q_skipgram_embed_sharded(spark, sf_dir):
    # round-4 scale path: SAME neighbor dataset as skipgram_embed, but
    # weights cluster-resident as a (m, key, vec) DataFrame — no dense
    # V x dim array on the driver (operators/embed.skipgram_fit_sharded;
    # trajectory-vs-dense equality pinned in tests/test_embed.py).
    # Rows-only (iterative, not SQL-expressible).
    from hex2vec_spark.operators.embed import sharded_embeddings, skipgram_fit_sharded
    from hex2vec_spark.operators.neighbors import context_pairs, sample_negatives
    from hex2vec_spark.operators.spatial import assign_h3

    corpus = (
        assign_h3(_images(spark, 1000), res=ENTRY_RES).select("h3").distinct()
    ).localCheckpoint(eager=False)
    pairs = context_pairs(corpus, k=1, materialize=False)
    negs = (
        sample_negatives(corpus, n_per_input=2, k_excl=2, materialize=False)
        .groupBy("input_h3")
        .agg(F.sort_array(F.collect_list("neg_h3")).alias("neg_h3s"))
    )
    ds = pairs.join(negs, "input_h3", "left")
    weights, _losses = skipgram_fit_sharded(ds, dim=4, n_iter=2, lr=1.0, seed=11)
    return sharded_embeddings(weights).select(
        "h3", F.size("embedding").alias("dim")
    )


def _q_autoencoder_embed(spark, sf_dir):
    # reference's second embedding method (autoencoder.py:1-56): linear
    # AE over the embeddings table, rows-only (iterative, not
    # SQL-expressible) — loss/structure/determinism pinned in
    # tests/test_embed.py
    from hex2vec_spark.operators.embed import autoencoder_fit
    from hex2vec_spark.operators.knn import _sniff_dim

    emb = _load(spark, sf_dir, "embeddings").limit(400)
    dim = _sniff_dim(emb, "embedding")
    out, _losses = autoencoder_fit(
        emb, sizes=[dim, 4], n_iter=5, lr=1e-2, seed=7,
        id_col="vec_id", vec_col="embedding",
    )
    return out.select("id", F.size("embedding").alias("dim"))


def _q_combined_embed(spark, sf_dir):
    # the reference's HEADLINE model (combined.py:7-74): shared MLP
    # encoder over per-hex feature vectors, skip-gram BCE + decoder
    # reconstruction. Rows-only (iterative); gradcheck vs a numeric
    # oracle + structure tests in tests/test_embed.py.
    from hex2vec_spark.operators.agg import hex_features, pivot_wide
    from hex2vec_spark.operators.embed import combined_fit, encode_features
    from hex2vec_spark.operators.neighbors import context_pairs, sample_negatives
    from hex2vec_spark.operators.spatial import spatial_join

    joined = spatial_join(_images(spark, 1000), _tiling_sdf(spark), res=ENTRY_RES)
    narrow = hex_features(joined)
    vocab = [
        r["feature"]
        for r in narrow.groupBy("feature").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "feature").limit(8).collect()
    ]
    wide = pivot_wide(narrow, vocab)
    feats = wide.select(
        "h3", F.array(*[F.col(c).cast("double") for c in vocab]).alias("features")
    ).localCheckpoint(eager=False)

    corpus = feats.select("h3").localCheckpoint(eager=False)
    pairs = context_pairs(corpus, k=1, materialize=False)
    negs = (
        sample_negatives(corpus, n_per_input=1, k_excl=2, materialize=False)
        .groupBy("input_h3").agg(F.min("neg_h3").alias("neg_h3"))
    )
    ft = feats.select(F.col("h3").alias("input_h3"), F.col("features").alias("xt"))
    fc = feats.select(F.col("h3").alias("context_h3"), F.col("features").alias("xc"))
    fn = feats.select(F.col("h3").alias("neg_h3"), F.col("features").alias("xn"))
    triples = (
        pairs.join(ft, "input_h3").join(fc, "context_h3")
        .join(negs, "input_h3", "left").join(fn, "neg_h3", "left")
        .select("xt", "xc", "xn")
    )
    model, _losses = combined_fit(triples, [len(vocab), 4], n_iter=2, lr=1e-2, seed=7)
    out = encode_features(feats, model)
    return out.select(
        F.col("id").alias("h3"), F.size("embedding").alias("dim")
    )


def _q_parent_rollup(spark, sf_dir):
    # H3 hierarchy (operators/hierarchy.py): res-9 image cells rolled up
    # to their res-7 ancestors — ONE groupBy on a bit-truncated key,
    # computed inside the scan stage. Rows-only here; the bit semantics
    # are DuckDB-oracled by `parent_truncate_bits` and kernel-oracled by
    # tests/test_hierarchy.py.
    from hex2vec_spark.operators.hierarchy import rollup
    from hex2vec_spark.operators.spatial import assign_h3

    pts = assign_h3(_images(spark), res=9)
    return rollup(pts, 7, "h3").orderBy("parent")


def _q_parent_truncate_bits(spark, sf_dir):
    # hierarchy parent truncation vs INDEPENDENT DuckDB bit arithmetic:
    # both sides synthesize the same res-9 H3-layout ids from o_orderkey
    # (mode|res|base-cell|27 digit bits|filler), the engine truncates via
    # operators/hierarchy.parent_col, the oracle via explicit masks.
    from hex2vec_spark.operators.hierarchy import parent_col

    o = _load(spark, sf_dir, "orders").select("o_orderkey")
    h = (
        F.lit(1 << 59)
        .bitwiseOR(F.lit(9 << 52))
        .bitwiseOR(F.shiftleft(F.col("o_orderkey") % 122, 45))
        .bitwiseOR(
            F.shiftleft((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(1 << 27), 18)
        )
        .bitwiseOR(F.lit((1 << 18) - 1))
    )
    return (
        o.select(h.alias("h3"))
        .select(parent_col("h3", 7).alias("parent"))
        .groupBy("parent")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _q_compact_cover(spark, sf_dir):
    # hierarchy compact/uncompact roundtrip as a gate query: distinct
    # res-8 image cells, uncompacted to full res-9 coverage (7 children
    # each), must compact back to EXACTLY the res-8 set. Deterministic;
    # set-equality pinned by tests/test_hierarchy.py (pandas/python
    # oracle) — the gate checks rows + schema stability.
    from hex2vec_spark.operators.hierarchy import compact_cells, uncompact_cells
    from hex2vec_spark.operators.spatial import assign_h3

    cells = assign_h3(_images(spark), res=8).select("h3").distinct()
    full = uncompact_cells(cells, 9, "h3")
    return compact_cells(full, "h3").orderBy("h3")


def _merge_source(spark, sf_dir):
    # deterministic MERGE source from orders: updates for custkeys
    # ending in 3 (new acctbal = exact DECIMAL order-total sum), inserts
    # for keys shifted out of the customer key space (ending in 7)
    o = _load(spark, sf_dir, "orders")
    upd = (
        o.where(F.col("o_custkey") % 10 == 3)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("c_acctbal")
        )
    )
    ins = (
        o.where(F.col("o_custkey") % 10 == 7)
        .groupBy((F.col("o_custkey") + 100000000).alias("c_custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("c_acctbal")
        )
    )
    return upd.unionByName(ins)


def _q_merge_upsert(spark, sf_dir):
    # Iceberg-style MERGE INTO as DataFrame algebra (operators/merge.py):
    # WHEN MATCHED UPDATE SET c_acctbal, WHEN NOT MATCHED INSERT * —
    # one left join + one anti-join on the same key; oracle is the
    # equivalent LEFT JOIN + ANTI JOIN SQL in DuckDB.
    from hex2vec_spark.operators.merge import merge_into

    tgt = _load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    return merge_into(tgt, _merge_source(spark, sf_dir), "c_custkey")


def _q_merge_delete(spark, sf_dir):
    # MERGE WHEN MATCHED DELETE (no insert): matched keys drop, oracle
    # is a plain ANTI JOIN
    from hex2vec_spark.operators.merge import merge_into

    tgt = _load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    return merge_into(
        tgt,
        _merge_source(spark, sf_dir),
        "c_custkey",
        when_matched="delete",
        insert_unmatched=False,
    )


def _q_augment_images(spark, sf_dir):
    # deterministic augmentation pipeline (functions/augment.py): decode
    # -> hflip -> center crop -> re-encode PNG with refreshed w/h/phash;
    # dims/phash pinned exactly vs NumPy in tests/test_image.py
    from hex2vec_spark.functions.augment import augment_images

    img = _images(spark, 300)
    return augment_images(img, ("hflip", "crop:0.5")).select(
        "image_id", "w", "h", "fmt", "phash", "aug_ops"
    )


def _q_image_ssim(spark, sf_dir):
    # perceptual quality scoring: per-image downsample-roundtrip SSIM
    # (hexlib/image.ssim, Wang et al. 2004) — corpus-filter feature
    from hex2vec_spark.functions.augment import ssim_roundtrip

    img = _images(spark, 300)
    return img.select(
        "image_id", F.round(ssim_roundtrip(F.col("bytes"), F.col("fmt")), 4).alias("ssim")
    )


def _q_corr_stats(spark, sf_dir):
    # bivariate statistics per group: Pearson correlation, sample
    # covariance, sample stddev — all JVM aggregates, one shuffle
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.count(F.lit(1)).alias("n"),
    )


def _q_histogram_bins(spark, sf_dir):
    # fixed-width histogram via floor-bucket arithmetic (identical
    # expression in the DuckDB oracle; Spark's width_bucket has no
    # DuckDB counterpart)
    o = _load(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


def _q_distance_pairs(spark, sf_dir):
    # distance-radius spatial join (operators/geo_join.distance_join):
    # latitude-band grid bucketing + 3x3 candidate explode + exact
    # haversine verify, all JVM expressions — every pair of synthetic
    # geotags within 800 m. The oracle is the quadratic self-join with
    # the identical haversine formula (term-for-term, so both engines
    # round the same way at the radius boundary).
    from hex2vec_spark.operators.geo_join import distance_join

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(500)
        .select(
            "vec_id",
            (F.lit(50.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.3).alias("lat"),
            (F.lit(19.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.45).alias("lng"),
        )
    )
    right = pts.select(
        F.col("vec_id").alias("r_id"), F.col("lat").alias("rlat"), F.col("lng").alias("rlng")
    )
    out = distance_join(pts, right, 800.0, right_lat_col="rlat", right_lng_col="rlng")
    return out.where(F.col("vec_id") < F.col("r_id")).select(
        F.col("vec_id").alias("l_id"), "r_id", F.round("dist_m", 3).alias("dist_m")
    )


def _q_distance_pairs_broadcast(spark, sf_dir):
    # round-5 broadcast variant: a dim-sized right side (50 "sites")
    # joined by radius with broadcast_right=True — the right side
    # explodes to its candidate buckets and broadcasts, the fact side
    # never shuffles (BroadcastHashJoin; plan-pinned in
    # tests/test_geo_join.py::TestBroadcastRight). Same quadratic
    # haversine oracle shape as distance_pairs.
    from hex2vec_spark.operators.geo_join import distance_join

    emb = _load(spark, sf_dir, "embeddings")
    pts = (
        emb.orderBy("vec_id")
        .limit(500)
        .select(
            "vec_id",
            (F.lit(50.0) + F.element_at(F.col("embedding"), 1).cast("double") * 0.3).alias("lat"),
            (F.lit(19.0) + F.element_at(F.col("embedding"), 2).cast("double") * 0.45).alias("lng"),
        )
    )
    sites = pts.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("site_id"),
        F.col("lat").alias("slat"), F.col("lng").alias("slng"),
    )
    out = distance_join(
        pts, sites, 1500.0,
        right_lat_col="slat", right_lng_col="slng", broadcast_right=True,
    )
    return out.select(
        "vec_id", "site_id", F.round("dist_m", 3).alias("dist_m")
    )


def _q_compact_tiling(spark, sf_dir):
    # per-region compacted tiling cover: every region's res-8 polyfill
    # compacted independently in ONE sweep (group_cols), summarized as
    # cell counts per (region, resolution). The classic H3 trick —
    # O(boundary) storage for O(area) coverage.
    from hex2vec_spark.operators.hierarchy import compact_cells, resolution_col

    comp = compact_cells(_tiling_sdf(spark), "h3", group_cols=["region_id"])
    return (
        comp.groupBy("region_id", resolution_col("h3").alias("res"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("region_id", "res")
    )


def _q_neighborhood_smooth(spark, sf_dir):
    # spatial-lag smoothing: per-cell image counts averaged over the
    # k-ring neighborhood present in the corpus (explode k_ring -> one
    # equi-join -> one groupBy mean; exact python oracle in
    # tests/test_ops.py::TestNeighborhoodSmooth)
    from hex2vec_spark.operators.neighbors import neighborhood_smooth
    from hex2vec_spark.operators.spatial import assign_h3

    counts = (
        assign_h3(_images(spark), res=8)
        .groupBy("h3")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    out = neighborhood_smooth(counts, ["n"], k=1)
    return out.select("h3", F.round("n_smooth", 6).alias("n_smooth")).orderBy("h3")


def _q_table_maintenance(spark, sf_dir):
    # Iceberg maintenance lifecycle in a temp root: 3 append commits of
    # small files -> bin-pack compaction (rewriteDataFiles analog) ->
    # expire_snapshots (keep_last=1, dead dirs reclaimed) -> read back.
    # Deterministic rows; exact invariants pinned by
    # tests/test_pipeline.py::TestTableMaintenance.
    import shutil
    import tempfile

    from hex2vec_spark.sources.iceberg_lite import (
        commit_table,
        compact_data_files,
        data_file_count,
        expire_snapshots,
        read_table,
    )

    root = tempfile.mkdtemp(prefix="hexmaint_")
    try:
        for i in range(3):
            df = spark.createDataFrame(
                [(i * 100 + j, float((i * 7 + j) % 5)) for j in range(40)],
                "h3 long, v double",
            ).repartition(4)
            commit_table(df, root, mode="append", partition_res=None)
        files_before = data_file_count(root)
        compact_data_files(spark, root, target_rows_per_file=60)
        res = expire_snapshots(root, keep_last=1)
        out = (
            read_table(spark, root)
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("files_before", F.lit(files_before))
            .withColumn("files_after", F.lit(data_file_count(root)))
            .withColumn("dirs_reclaimed", F.lit(len(res["deleted_dirs"])))
            .orderBy("v")
        )
        out = out.localCheckpoint(eager=True)  # materialize before rmtree
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _lang_id_ngram_oracle() -> str:
    # composed from the SAME bigram profile as the Spark operator
    from hex2vec_spark.operators.text import EN_BIGRAMS

    terms = " + ".join(
        f"(LENGTH(lower(text)) - LENGTH(replace(lower(text), '{bg}', ''))) / 2"
        for bg in EN_BIGRAMS
    )
    return f"""
        SELECT doc_id, ROUND(score, 6) AS score,
               CASE WHEN score >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred_ngram
        FROM (
            SELECT doc_id,
                   CASE WHEN LENGTH(lower(text)) > 0
                        THEN ({terms}) * 1.0 / LENGTH(lower(text))
                        ELSE 0.0 END AS score
            FROM documents
        )
    """


def _hardened(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_harden(spark), sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _hardened(v) for k, v in _registry().items()}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "explode_trim": _q_explode_trim,
        "semi_filter": _q_semi_filter,
        "union_resum": _q_union_resum,
        "self_join": _q_self_join,
        "topk": _q_topk,
        "per_group_topk": _q_per_group_topk,
        "group_pivot": _q_group_pivot,
        "salted_agg": _q_salted_agg,
        "adaptive_salted_agg": _q_adaptive_salted_agg,
        "value_sets": _q_value_sets,
        "mercator_xy": _q_mercator_xy,
        "presence_counts": _q_presence_counts,
        "counts_desc": _q_counts_desc,
        "distinct_per_key": _q_distinct_per_key,
        "dedup_exact": _q_dedup_exact,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "lang_id_ngram": _q_lang_id_ngram,
        "token_count": _q_token_count,
        "bpe_token_count": _q_bpe_token_count,
        "knn_bruteforce": _q_knn_bruteforce,
        "vector_arithmetic": _q_vector_arithmetic,
        "isin_filter": _q_isin_filter,
        "prefix_select": _q_prefix_select,
        "all_zero_drop": _q_all_zero_drop,
        "endswith": _q_endswith,
        "feature_support": _q_feature_support,
        "cluster_means": _q_cluster_means,
        "dropdup": _q_dropdup,
        "pivot_wide": _q_pivot_wide,
        "union_missing_cols": _q_union_missing_cols,
        "ngram_jaccard": _q_ngram_jaccard,
        "winnow_fp": _q_winnow_fp,
        "set_intersect": _q_set_intersect,
        "set_except": _q_set_except,
        "regex_extract": _q_regex_extract,
        "substr_index": _q_substr_index,
        "json_extract": _q_json_extract,
        "anti_join": _q_anti_join,
        "semi_join": _q_semi_join,
        "join3_revenue": _q_join3_revenue,
        "tpch_q6": _q_tpch_q6,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "tpch_q10": _q_tpch_q10,
        "tpch_q18": _q_tpch_q18,
        "tpch_q7": _q_tpch_q7,
        "tpch_q8": _q_tpch_q8,
        "tpch_q9": _q_tpch_q9,
        "tpch_q12": _q_tpch_q12,
        "tpch_q14": _q_tpch_q14,
        "tpch_q13": _q_tpch_q13,
        "tpch_q17": _q_tpch_q17,
        "tpch_q19": _q_tpch_q19,
        "tpch_q22": _q_tpch_q22,
        "exists_agg": _q_exists_agg,
        "conditional_agg": _q_conditional_agg,
        "scalar_subquery": _q_scalar_subquery,
        "range_join": _q_range_join,
        "interval_join_agg": _q_interval_join,
        "parent_rollup": _q_parent_rollup,
        "parent_truncate_bits": _q_parent_truncate_bits,
        "compact_cover": _q_compact_cover,
        "merge_upsert": _q_merge_upsert,
        "merge_delete": _q_merge_delete,
        "augment_images": _q_augment_images,
        "image_ssim": _q_image_ssim,
        "corr_stats": _q_corr_stats,
        "histogram_bins": _q_histogram_bins,
        "distance_pairs": _q_distance_pairs,
        "distance_pairs_broadcast": _q_distance_pairs_broadcast,
        "knn_join_pairs": _q_knn_join,
        "knn_join_full_pairs": _q_knn_join_full,
        "path_length": _q_path_length,
        "grid_paths": _q_grid_paths,
        "hex_density": _q_hex_density,
        "bearing_pairs": _q_bearing,
        "destination_points": _q_destination,
        "region_hulls": _q_region_hulls,
        "pip_join_assign": _q_pip_join,
        "pip_join_holes": _q_pip_join_holes,
        "pip_join_broadcast": _q_pip_join_broadcast,
        "rasterize_regions": _q_rasterize_regions,
        "compact_tiling": _q_compact_tiling,
        "neighborhood_smooth": _q_neighborhood_smooth,
        "table_maintenance": _q_table_maintenance,
        "cube_counts": _q_cube_counts,
        "salted_join": _q_salted_join,
        "windowed_counts": _q_windowed_counts,
        "asof_join": _q_asof_join,
        "asof_join_forward": _q_asof_join_forward,
        "asof_join_strict": _q_asof_join_strict,
        "asof_join_nearest": _q_asof_join_nearest,
        "moving_avg": _q_moving_avg,
        "ntile_buckets": _q_ntile_buckets,
        "date_trunc_counts": _q_date_trunc_counts,
        "filtered_sums": _q_filtered_sums,
        "string_agg_ordered": _q_string_agg_ordered,
        "regex_replace_count": _q_regex_replace_count,
        "first_last_frame": _q_first_last_frame,
        "range_frame_count": _q_range_frame_count,
        "array_setops": _q_array_setops,
        "cumsum_running": _q_cumsum_running,
        "lag_delta": _q_lag_delta,
        "dense_rank_filter": _q_dense_rank_filter,
        "rollup_counts": _q_rollup_counts,
        "unpivot_long": _q_unpivot_long,
        "levenshtein_pairs": _q_levenshtein_pairs,
        "percentile_groups": _q_percentile_groups,
        "tfidf": _q_tfidf,
        "standardize": _q_standardize,
        "minmax_scale": _q_minmax_scale,
        "interp_topk": _q_interp_topk,
        "phash_band_pairs": _q_phash_band_pairs,
        "dedup_components": _q_dedup_components,
        "sessionize": _q_sessionize,
        "agglomerative": _q_agglomerative,
        "dedup_keep_canonical": _q_dedup_keep_canonical,
        # image / H3 pipeline (rows-only; pandas-oracle tests in tests/)
        "hex_features": _q_hex_features,
        "assignments": _q_assignments,
        "polygon_assign": _q_polygon_assign,
        "pipeline_e2e": _q_pipeline_e2e,
        "neighbor_dataset": _q_neighbor_dataset,
        "context_pairs": _q_context_pairs,
        "neg_samples": _q_neg_samples,
        "h3_strings": _q_h3_strings,
        "knn_centroids": _q_knn_centroids,
        "knn_centroids_pruned": _q_knn_centroids_pruned,
        "phash_near_dup": _q_phash_near_dup,
        "minhash_pairs": _q_minhash_pairs,
        "simhash": _q_simhash,
        "embedding_near_dup": _q_embedding_near_dup,
        "tile_hex_bins": _q_tile_hex_bins,
        "image_stats": _q_image_stats,
        "knn_ivf": _q_knn_ivf,
        "knn_ivf_index": _q_knn_ivf_index,
        "kmeans": _q_kmeans,
        "knn_lsh": _q_knn_lsh,
        "strict_pip": _q_strict_pip,
        "resize_images": _q_resize_images,
        "frame_sample": _q_frame_sample,
        "video_frame_stats": _q_video_frame_stats,
        "audio_features": _q_audio_features,
        "skipgram_embed": _q_skipgram_embed,
        "skipgram_embed_sharded": _q_skipgram_embed_sharded,
        "autoencoder_embed": _q_autoencoder_embed,
        "combined_embed": _q_combined_embed,
        "keep_canonical_graph": _q_keep_canonical_graph,
        "grouping_sets": _q_grouping_sets,
        "global_hybrid_assign": _q_global_hybrid_assign,
        "hof_array_ops": _q_hof_array_ops,
        "knn_ivf_exact": _q_knn_ivf_exact,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "explode_trim": """
            SELECT token, COUNT(*) AS n FROM (
                SELECT TRIM(t.token) AS token
                FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
            ) WHERE token <> ''
            GROUP BY token ORDER BY n DESC, token LIMIT 100
        """,
        "semi_filter": """
            SELECT p_partkey, p_type FROM part
            WHERE p_type IN ('MEDIUM','PROMO')
        """,
        "union_resum": """
            SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n FROM (
                SELECT * FROM lineitem WHERE l_orderkey % 2 = 0
                UNION ALL
                SELECT * FROM lineitem WHERE l_orderkey % 2 = 1
            ) GROUP BY l_returnflag
        """,
        "self_join": """
            SELECT a.n_nationkey AS nk_a, b.n_nationkey AS nk_b, a.n_regionkey AS rk
            FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
            WHERE a.n_nationkey < b.n_nationkey
        """,
        "topk": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "per_group_topk": """
            SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
                SELECT c_nationkey, c_custkey, c_acctbal,
                       ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
                FROM customer
            ) WHERE rk <= 3
        """,
        "group_pivot": """
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS DOUBLE) AS count,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "salted_agg": """
            SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS DOUBLE) AS count
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "adaptive_salted_agg": """
            SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS DOUBLE) AS count
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "value_sets": """
            SELECT user_id,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
            FROM events GROUP BY user_id
        """,
        "mercator_xy": """
            SELECT vec_id,
                   ROUND(radians(CAST(embedding[2] AS DOUBLE) * 180.0) * 6378137.0, 4) AS x,
                   ROUND(ln(tan(pi()/4 + radians(
                       GREATEST(LEAST(CAST(embedding[1] AS DOUBLE) * 60.0, 85.0), -85.0)) / 2))
                       * 6378137.0, 4) AS y
            FROM embeddings
        """,
        "presence_counts": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS n_view,
                   COUNT(*) AS n_total
            FROM events GROUP BY user_id
        """,
        "counts_desc": "SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang",
        "distinct_per_key": """
            SELECT user_id, COUNT(DISTINCT event_type) AS n_types FROM events GROUP BY user_id
        """,
        "dedup_exact": """
            SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
            FROM documents GROUP BY 1
        """,
        "quality_score": """
            SELECT doc_id, LENGTH(text) AS len_chars,
                   ROUND(CASE WHEN LENGTH(text) > 0
                         THEN LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / LENGTH(text)
                         ELSE 0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN LENGTH(text) > 0
                         THEN LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / LENGTH(text)
                         ELSE 0 END, 6) AS alpha_ratio
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN (len(list_filter(string_split(lower(text), ' '), w -> w IN {_STOP})) * 1.0
                              / NULLIF(len(string_split(text, ' ')), 0)) >= 0.08
                        THEN 'en' ELSE 'other' END AS lang_pred
            FROM documents
        """,
        "token_count": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, LENGTH(text) AS len_chars
            FROM documents
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "lang_id_ngram": _lang_id_ngram_oracle(),
        "isin_filter": """
            SELECT doc_id, lang, source FROM documents
            WHERE lang IN ('en','de') AND source NOT IN ('web')
        """,
        "prefix_select": """
            SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'small%'
        """,
        "all_zero_drop": """
            SELECT user_id, ROUND(v_click, 4) AS v_click, ROUND(v_purchase, 4) AS v_purchase FROM (
                SELECT user_id,
                       SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS v_click,
                       SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS v_purchase
                FROM events GROUP BY user_id
            ) WHERE GREATEST(v_click, v_purchase) > 0
        """,
        "endswith": """
            SELECT c_custkey, c_name FROM customer WHERE c_name LIKE '%7'
        """,
        "feature_support": """
            SELECT CAST(SUM(CASE WHEN n_click > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS support_click,
                   CAST(SUM(CASE WHEN n_view > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS support_view
            FROM (
                SELECT user_id,
                       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
                       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view
                FROM events GROUP BY user_id
            )
        """,
        "cluster_means": """
            SELECT label, ROUND(AVG(embedding[1]), 6) AS m0,
                   ROUND(AVG(embedding[2]), 6) AS m1, COUNT(*) AS n
            FROM embeddings GROUP BY label
        """,
        "dropdup": "SELECT DISTINCT user_id, event_type FROM events",
        "pivot_wide": """
            SELECT l_returnflag,
                   CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END), 0) AS DOUBLE) AS n_f,
                   CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN 1 END), 0) AS DOUBLE) AS n_o
            FROM lineitem GROUP BY l_returnflag
        """,
        "union_missing_cols": """
            SELECT user_id, ROUND(SUM(v_click), 4) AS sum_click,
                   ROUND(SUM(v_view), 4) AS sum_view, COUNT(*) AS n
            FROM (
                SELECT user_id, value AS v_click, 0.0 AS v_view FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT user_id, 0.0 AS v_click, value AS v_view FROM events WHERE event_type = 'view'
            ) GROUP BY user_id
        """,
        "ngram_jaccard": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
                FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                              i -> array_to_string(toks[(i+1):(i+3)], ' '))) AS gram
                FROM t
            ),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
            inter AS (
                SELECT g1.doc_id AS id_a, g2.doc_id AS id_b, COUNT(*) AS n_inter
                FROM g g1 JOIN g g2 USING (gram)
                WHERE g1.doc_id < g2.doc_id GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   ROUND(i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
            FROM inter i
            JOIN sz sa ON i.id_a = sa.doc_id
            JOIN sz sb ON i.id_b = sb.doc_id
            WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= 0.8
        """,
        "winnow_fp": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
                              i -> md5(array_to_string(toks[(i+1):(i+3)], ' '))) AS grams
                FROM t
            )
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(0, greatest(len(grams) - 4, 0) + 1),
                          j -> list_aggregate(grams[(j+1):(j+4)], 'min'))) AS fp
            FROM g
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
        """,
        "set_intersect": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "set_except": """
            SELECT user_id FROM events WHERE event_type = 'click' AND value > 100
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100
        """,
        "regex_extract": """
            SELECT p_partkey, regexp_extract(p_type, '([A-Z]+)', 1) AS first_word FROM part
        """,
        "substr_index": """
            SELECT c_custkey, split_part(c_name, '#', 1) AS name_prefix FROM customer
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
            )
        """,
        "semi_join": """
            SELECT c_custkey, c_nationkey FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "join3_revenue": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "windowed_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "asof_join": """
            SELECT l.event_id,
                   epoch_us(l.ts) AS ts_us,
                   epoch_us(r.ts) AS asof_ts_us,
                   r.value AS last_purchase
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value
                            FROM events WHERE event_type = 'purchase'
                            GROUP BY user_id, ts) r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_join_forward": """
            SELECT l.event_id,
                   epoch_us(l.ts) AS ts_us,
                   epoch_us(r.ts) AS asof_ts_us,
                   r.value AS matched_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value
                            FROM events WHERE event_type = 'purchase'
                            GROUP BY user_id, ts) r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        "asof_join_nearest": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
                 r AS (SELECT user_id, ts, MAX(value) AS value
                       FROM events WHERE event_type = 'purchase'
                       GROUP BY user_id, ts),
                 b AS (SELECT l.event_id, l.ts,
                              r.ts AS bts, r.value AS bval
                       FROM l ASOF LEFT JOIN r
                         ON l.user_id = r.user_id AND l.ts >= r.ts),
                 f AS (SELECT l.event_id,
                              r.ts AS fts, r.value AS fval
                       FROM l ASOF LEFT JOIN r
                         ON l.user_id = r.user_id AND l.ts <= r.ts)
            SELECT b.event_id,
                   epoch_us(b.ts) AS ts_us,
                   CASE WHEN bts IS NULL THEN epoch_us(fts)
                        WHEN fts IS NULL THEN epoch_us(bts)
                        WHEN epoch_us(b.ts) - epoch_us(bts)
                             <= epoch_us(fts) - epoch_us(b.ts)
                             THEN epoch_us(bts)
                        ELSE epoch_us(fts) END AS asof_ts_us,
                   CASE WHEN bts IS NULL THEN fval
                        WHEN fts IS NULL THEN bval
                        WHEN epoch_us(b.ts) - epoch_us(bts)
                             <= epoch_us(fts) - epoch_us(b.ts)
                             THEN bval
                        ELSE fval END AS matched_value
            FROM b JOIN f USING (event_id)
        """,
        "asof_join_strict": """
            SELECT l.event_id,
                   epoch_us(l.ts) AS ts_us,
                   epoch_us(r.ts) AS asof_ts_us,
                   r.value AS matched_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value
                            FROM events WHERE event_type = 'purchase'
                            GROUP BY user_id, ts) r
              ON l.user_id = r.user_id AND l.ts > r.ts
        """,
        "moving_avg": """
            SELECT event_id,
                   ROUND(AVG(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg4
            FROM events
        """,
        "date_trunc_counts": """
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "filtered_sums": """
            SELECT event_type,
                   CAST(COUNT(*) FILTER (value > 50) AS BIGINT) AS n_big,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        FILTER (value > 50) AS DOUBLE) AS sum_big,
                   CAST(COUNT(*) FILTER (value <= 50) AS BIGINT) AS n_small,
                   CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        FILTER (value <= 50) AS DOUBLE) AS sum_small
            FROM events GROUP BY event_type
        """,
        "string_agg_ordered": """
            SELECT lang,
                   string_agg(source, ',' ORDER BY source) AS sources
            FROM documents WHERE doc_id % 50 = 0
            GROUP BY lang
        """,
        "regex_replace_count": """
            SELECT doc_id,
                   length(regexp_replace(text, '[aeiou]+', '~', 'g'))
                       AS len_collapsed,
                   CAST(len(regexp_split_to_array(text, '[aeiou]+')) - 1
                        AS BIGINT) AS n_vowel_runs
            FROM documents
        """,
        "ntile_buckets": """
            SELECT event_id,
                   NTILE(4) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS bucket
            FROM events
        """,
        "first_last_frame": """
            SELECT event_id,
                   FIRST_VALUE(value) OVER w AS fv,
                   LAST_VALUE(value) OVER w AS lv
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        """,
        "range_frame_count": """
            SELECT event_id,
                   COUNT(*) OVER (PARTITION BY event_type ORDER BY value
                                  RANGE BETWEEN 10 PRECEDING
                                  AND CURRENT ROW) AS n_within
            FROM events
        """,
        "array_setops": """
            WITH t AS (
                SELECT doc_id,
                       list_distinct(w[1:5]) AS head,
                       list_distinct(
                           w[greatest(len(w) - 4, 1):len(w)]) AS tail
                FROM (SELECT doc_id,
                             string_split(lower(text), ' ') AS w
                      FROM documents)
            )
            SELECT doc_id,
                   CAST(len(list_intersect(head, tail)) AS BIGINT) AS n_common,
                   CAST(len(list_filter(head,
                        x -> NOT list_contains(tail, x))) AS BIGINT)
                       AS n_head_only,
                   CAST(len(list_distinct(list_concat(head, tail))) AS BIGINT)
                       AS n_all
            FROM t
        """,
        "cumsum_running": """
            SELECT event_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS run_total
            FROM events
        """,
        "lag_delta": """
            SELECT event_id,
                   ROUND(value - LAG(value, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
            FROM events
        """,
        "dense_rank_filter": """
            SELECT event_type, event_id, rk FROM (
                SELECT event_type, event_id,
                       DENSE_RANK() OVER (PARTITION BY event_type
                           ORDER BY value DESC, event_id) AS rk
                FROM events)
            WHERE rk <= 5
        """,
        "rollup_counts": """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "unpivot_long": """
            SELECT o_orderkey, metric, val FROM (
                UNPIVOT (SELECT o_orderkey,
                                CAST(o_totalprice AS DOUBLE) AS totalprice,
                                CAST(o_custkey AS DOUBLE) AS custkey
                         FROM orders)
                ON totalprice, custkey INTO NAME metric VALUE val)
        """,
        "levenshtein_pairs": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
            FROM documents a JOIN documents b ON a.doc_id < b.doc_id
            WHERE a.doc_id < 15 AND b.doc_id < 15
        """,
        "percentile_groups": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.25), 4) AS q25,
                   ROUND(quantile_cont(value, 0.5),  4) AS q50,
                   ROUND(quantile_cont(value, 0.75), 4) AS q75
            FROM events GROUP BY event_type
        """,
        "tpch_q13": """
            SELECT c_count, COUNT(*)::BIGINT AS custdist
            FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders
                  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "tpch_q17": """
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13'
              AND l_quantity < (
                SELECT 0.2 * AVG(l2.l_quantity)
                FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
        """,
        "tpch_q19": """
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*)::BIGINT AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 30
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q22": """
            SELECT c_mktsegment, COUNT(*)::BIGINT AS numcust,
                   ROUND(SUM(c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c.c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(year FROM l_shipdate) AS l_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "tpch_q8": """
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
            GROUP BY o_year
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   EXTRACT(year FROM o_orderdate) AS o_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, o_year
        """,
        "tpch_q12": """
            SELECT l_linestatus,
                   SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_shipdate > o_orderdate
            GROUP BY l_linestatus
        """,
        "tpch_q14": """
            SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-06-01'
        """,
        "tpch_q6": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q3": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate  > TIMESTAMP '1998-03-15'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "tpch_q18": """
            SELECT c_custkey, o_orderkey,
                   ROUND(sum_qty, 2) AS sum_qty,
                   ROUND(o_totalprice, 2) AS o_totalprice
            FROM (
                SELECT l_orderkey, SUM(l_quantity) AS sum_qty
                FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
            ) big
            JOIN orders   ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "exists_agg": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
            )
            GROUP BY o_orderpriority
        """,
        "conditional_agg": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS DOUBLE) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS DOUBLE) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_returnflag
        """,
        "scalar_subquery": """
            SELECT p_brand, COUNT(*) AS n, ROUND(AVG(p_retailprice), 2) AS avg_price
            FROM part
            WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
            GROUP BY p_brand
        """,
        "range_join": """
            SELECT bucket, COUNT(*) AS n, ROUND(SUM(s_acctbal), 2) AS sum_bal
            FROM supplier
            JOIN (VALUES (-100000.0, 0.0, 'neg'), (0.0, 3000.0, 'low'),
                         (3000.0, 7000.0, 'mid'), (7000.0, 100000.0, 'high'))
                 AS b(lo, hi, bucket)
              ON s_acctbal >= lo AND s_acctbal < hi
            GROUP BY bucket
        """,
        "interval_join_agg": """
            SELECT s_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_price
            FROM orders
            JOIN (SELECT s_suppkey, s_acctbal * 40.0 AS lo,
                         s_acctbal * 40.0 + (s_suppkey % 7 + 1) * 8000.0 AS hi
                  FROM supplier) iv
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY s_suppkey
        """,
        "parent_truncate_bits": """
            -- independent bit arithmetic for hierarchy parent_col:
            -- clear res nibble (& ~(15<<52)), set res 7, fill digits
            -- 8..15 with 7s (| (1<<24)-1); ids synthesized identically
            SELECT ((h & -67553994410557441) | 31525197391593472 | 16777215)
                       AS parent,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT (576460752303423488 | 40532396646334464
                        | ((o_orderkey % 122) << 45)
                        | (((o_orderkey * 2654435761) % 134217728) << 18)
                        | 262143) AS h
                FROM orders
            )
            GROUP BY parent
        """,
        "merge_upsert": """
            WITH src AS (
                SELECT o_custkey AS c_custkey,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                           AS c_acctbal
                FROM orders WHERE o_custkey % 10 = 3 GROUP BY o_custkey
                UNION ALL
                SELECT o_custkey + 100000000,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                FROM orders WHERE o_custkey % 10 = 7 GROUP BY o_custkey
            )
            SELECT c.c_custkey, c.c_name,
                   CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                        ELSE c.c_acctbal END AS c_acctbal,
                   c.c_mktsegment
            FROM customer c LEFT JOIN src s ON c.c_custkey = s.c_custkey
            UNION ALL
            SELECT s.c_custkey, NULL AS c_name, s.c_acctbal,
                   NULL AS c_mktsegment
            FROM src s ANTI JOIN customer c ON s.c_custkey = c.c_custkey
        """,
        "corr_stats": """
            SELECT l_returnflag,
                   ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                   ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc,
                   ROUND(STDDEV_SAMP(l_discount), 6) AS sd_disc,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "histogram_bins": """
            SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
                   COUNT(*) AS n,
                   ROUND(MIN(o_totalprice), 2) AS lo,
                   ROUND(MAX(o_totalprice), 2) AS hi
            FROM orders GROUP BY bucket
        """,
        "pip_join_holes": """
            WITH pts AS (
                SELECT vec_id,
                       41.0 + CAST(embedding[1] AS DOUBLE) * 2.5 AS lat,
                       15.5 + CAST(embedding[2] AS DOUBLE) * 3.75 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 500
            ), parts(obj_id, part, la0, la1, lg0, lg1) AS (VALUES
                ('A', 0, 40.02, 41.03, 15.01, 16.04),
                ('B', 0, 41.21, 42.23, 15.02, 16.01),
                ('C', 0, 40.03, 41.01, 16.21, 17.23),
                ('D', 0, 41.22, 41.63, 16.22, 16.81),
                ('D', 1, 41.81, 42.21, 16.23, 16.82)
            ), holes(obj_id, part, la0, la1, lg0, lg1) AS (VALUES
                ('A', 0, 40.31, 40.72, 15.33, 15.71),
                ('B', 0, 41.32, 41.51, 15.11, 15.42),
                ('B', 0, 41.81, 42.02, 15.61, 15.92),
                ('D', 0, 41.31, 41.42, 16.41, 16.62)
            )
            SELECT DISTINCT p.vec_id, q.obj_id
            FROM pts p JOIN parts q
              ON p.lat > q.la0 AND p.lat < q.la1
             AND p.lng > q.lg0 AND p.lng < q.lg1
            WHERE NOT EXISTS (
                SELECT 1 FROM holes h
                WHERE h.obj_id = q.obj_id AND h.part = q.part
                  AND p.lat > h.la0 AND p.lat < h.la1
                  AND p.lng > h.lg0 AND p.lng < h.lg1)
        """,
        "pip_join_broadcast": """
            WITH pts AS (
                SELECT vec_id,
                       41.0 + CAST(embedding[1] AS DOUBLE) * 2.5 AS lat,
                       15.5 + CAST(embedding[2] AS DOUBLE) * 3.75 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 500
            ), parts(obj_id, part, la0, la1, lg0, lg1) AS (VALUES
                ('A', 0, 40.02, 41.03, 15.01, 16.04),
                ('B', 0, 41.21, 42.23, 15.02, 16.01),
                ('C', 0, 40.03, 41.01, 16.21, 17.23),
                ('D', 0, 41.22, 41.63, 16.22, 16.81),
                ('D', 1, 41.81, 42.21, 16.23, 16.82)
            ), holes(obj_id, part, la0, la1, lg0, lg1) AS (VALUES
                ('A', 0, 40.31, 40.72, 15.33, 15.71),
                ('B', 0, 41.32, 41.51, 15.11, 15.42),
                ('B', 0, 41.81, 42.02, 15.61, 15.92),
                ('D', 0, 41.31, 41.42, 16.41, 16.62)
            )
            SELECT DISTINCT p.vec_id, q.obj_id
            FROM pts p JOIN parts q
              ON p.lat > q.la0 AND p.lat < q.la1
             AND p.lng > q.lg0 AND p.lng < q.lg1
            WHERE NOT EXISTS (
                SELECT 1 FROM holes h
                WHERE h.obj_id = q.obj_id AND h.part = q.part
                  AND p.lat > h.la0 AND p.lat < h.la1
                  AND p.lng > h.lg0 AND p.lng < h.lg1)
        """,
        "distance_pairs_broadcast": """
            WITH pts AS (
                SELECT vec_id,
                       50.0 + CAST(embedding[1] AS DOUBLE) * 0.3 AS lat,
                       19.0 + CAST(embedding[2] AS DOUBLE) * 0.45 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 500
            ), sites AS (
                SELECT vec_id AS site_id, lat AS slat, lng AS slng
                FROM pts WHERE vec_id % 10 = 0
            ), pairs AS (
                SELECT p.vec_id, s.site_id,
                       2 * 6371008.8 * ASIN(SQRT(LEAST(1.0,
                           POW(SIN((RADIANS(s.slat) - RADIANS(p.lat)) / 2), 2)
                         + COS(RADIANS(p.lat)) * COS(RADIANS(s.slat))
                           * POW(SIN((RADIANS(s.slng) - RADIANS(p.lng)) / 2), 2)
                       ))) AS dist
                FROM pts p JOIN sites s ON TRUE
            )
            SELECT vec_id, site_id, ROUND(dist, 3) AS dist_m
            FROM pairs WHERE dist <= 1500.0
        """,
        "distance_pairs": """
            WITH pts AS (
                SELECT vec_id,
                       50.0 + CAST(embedding[1] AS DOUBLE) * 0.3 AS lat,
                       19.0 + CAST(embedding[2] AS DOUBLE) * 0.45 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 500
            ), pairs AS (
                SELECT a.vec_id AS l_id, b.vec_id AS r_id,
                       2 * 6371008.8 * ASIN(SQRT(LEAST(1.0,
                           POW(SIN((RADIANS(b.lat) - RADIANS(a.lat)) / 2), 2)
                         + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                           * POW(SIN((RADIANS(b.lng) - RADIANS(a.lng)) / 2), 2)
                       ))) AS dist
                FROM pts a JOIN pts b ON a.vec_id < b.vec_id
            )
            SELECT l_id, r_id, ROUND(dist, 3) AS dist_m
            FROM pairs WHERE dist <= 800.0
        """,
        "destination_points": """
            WITH rows_in AS (
                SELECT vec_id,
                       RADIANS((CAST(embedding[1] AS DOUBLE) + 1.0) * 180.0) AS th,
                       ABS(CAST(embedding[2] AS DOUBLE)) * 50000.0 / 6371008.8 AS dl
                FROM embeddings
            ), solved AS (
                SELECT vec_id, th, dl,
                       ASIN(GREATEST(-1.0, LEAST(1.0,
                           SIN(RADIANS(50.0)) * COS(dl)
                         + COS(RADIANS(50.0)) * SIN(dl) * COS(th)))) AS la2
                FROM rows_in
            )
            SELECT vec_id,
                   ROUND(DEGREES(la2), 6) AS dest_lat,
                   ROUND(((DEGREES(RADIANS(19.0) + ATAN2(
                       SIN(th) * SIN(dl) * COS(RADIANS(50.0)),
                       COS(dl) - SIN(RADIANS(50.0)) * SIN(la2)
                   )) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) AS dest_lng
            FROM solved
        """,
        "bearing_pairs": """
            WITH pts AS (
                SELECT vec_id,
                       50.0 + CAST(embedding[1] AS DOUBLE) * 0.3 AS lat,
                       19.0 + CAST(embedding[2] AS DOUBLE) * 0.45 AS lng
                FROM embeddings
            )
            SELECT vec_id,
                   ROUND(
                       ((DEGREES(ATAN2(
                           SIN(RADIANS(lng) - RADIANS(19.0)) * COS(RADIANS(lat)),
                           COS(RADIANS(50.0)) * SIN(RADIANS(lat))
                         - SIN(RADIANS(50.0)) * COS(RADIANS(lat))
                           * COS(RADIANS(lng) - RADIANS(19.0))
                       )) % 360.0) + 360.0) % 360.0, 4) AS bearing_deg,
                   ROUND(2 * 6371008.8 * ASIN(SQRT(GREATEST(0.0, LEAST(1.0,
                       POW(SIN((RADIANS(lat) - RADIANS(50.0)) / 2), 2)
                     + COS(RADIANS(50.0)) * COS(RADIANS(lat))
                       * POW(SIN((RADIANS(lng) - RADIANS(19.0)) / 2), 2)
                   )))), 3) AS dist_m
            FROM pts
        """,
        "path_length": """
            WITH pts AS (
                SELECT user_id, ts, event_id,
                       50.0 + (event_id % 997) / 997.0 * 0.5 AS lat,
                       19.0 + (event_id % 1009) / 1009.0 * 0.8 AS lng
                FROM events
            ), lagged AS (
                SELECT user_id, lat, lng,
                       LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
                       LAG(lng) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plng
                FROM pts
            ), legs AS (
                SELECT user_id,
                       CASE WHEN plat IS NOT NULL THEN
                           2 * 6371008.8 * ASIN(SQRT(GREATEST(0.0, LEAST(1.0,
                               POW(SIN((RADIANS(lat) - RADIANS(plat)) / 2), 2)
                             + COS(RADIANS(plat)) * COS(RADIANS(lat))
                               * POW(SIN((RADIANS(lng) - RADIANS(plng)) / 2), 2)
                           ))))
                       END AS leg
                FROM lagged
            )
            SELECT user_id, ROUND(SUM(leg) / 1000.0, 3) AS path_km,
                   COUNT(leg) AS n_legs
            FROM legs GROUP BY user_id
        """,
        "knn_join_full_pairs": """
            WITH pts AS (
                SELECT vec_id,
                       50.0 + CAST(embedding[1] AS DOUBLE) * 0.3 AS lat,
                       19.0 + CAST(embedding[2] AS DOUBLE) * 0.45 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 200
            ), pairs AS (
                SELECT a.vec_id AS l_id, b.vec_id AS r_id,
                       2 * 6371008.8 * ASIN(SQRT(LEAST(1.0,
                           POW(SIN((RADIANS(b.lat) - RADIANS(a.lat)) / 2), 2)
                         + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                           * POW(SIN((RADIANS(b.lng) - RADIANS(a.lng)) / 2), 2)
                       ))) AS dist
                FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
            ), ranked AS (
                SELECT l_id, r_id, dist,
                       ROW_NUMBER() OVER (
                           PARTITION BY l_id ORDER BY dist ASC, r_id ASC
                       ) AS knn_rank
                FROM pairs
            )
            SELECT l_id, r_id, knn_rank, ROUND(dist, 3) AS dist_m
            FROM ranked WHERE knn_rank <= 3
        """,
        "knn_join_pairs": """
            WITH pts AS (
                SELECT vec_id,
                       50.0 + CAST(embedding[1] AS DOUBLE) * 0.3 AS lat,
                       19.0 + CAST(embedding[2] AS DOUBLE) * 0.45 AS lng
                FROM embeddings ORDER BY vec_id LIMIT 500
            ), pairs AS (
                SELECT a.vec_id AS l_id, b.vec_id AS r_id,
                       2 * 6371008.8 * ASIN(SQRT(LEAST(1.0,
                           POW(SIN((RADIANS(b.lat) - RADIANS(a.lat)) / 2), 2)
                         + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                           * POW(SIN((RADIANS(b.lng) - RADIANS(a.lng)) / 2), 2)
                       ))) AS dist
                FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
            ), ranked AS (
                SELECT l_id, r_id, dist,
                       ROW_NUMBER() OVER (
                           PARTITION BY l_id ORDER BY dist ASC, r_id ASC
                       ) AS knn_rank
                FROM pairs WHERE dist <= 2000.0
            )
            SELECT l_id, r_id, knn_rank, ROUND(dist, 3) AS dist_m
            FROM ranked WHERE knn_rank <= 5
        """,
        "merge_delete": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
            FROM customer c
            ANTI JOIN (
                SELECT o_custkey AS c_custkey
                FROM orders WHERE o_custkey % 10 = 3 GROUP BY o_custkey
                UNION ALL
                SELECT o_custkey + 100000000
                FROM orders WHERE o_custkey % 10 = 7 GROUP BY o_custkey
            ) s ON c.c_custkey = s.c_custkey
        """,
        "salted_join": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "cube_counts": """
            SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   COUNT(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "knn_bruteforce": """
            SELECT vec_id, ROUND(raw_sim, 4) AS sim FROM (
                SELECT vec_id, list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS raw_sim
                FROM embeddings WHERE vec_id <> 0
            ) ORDER BY raw_sim DESC, vec_id LIMIT 10
        """,
        "vector_arithmetic": """
            WITH q AS (
                SELECT list_transform(
                           range(1, len(a.v) + 1), i -> a.v[i] + b.v[i]) AS v
                FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1) a,
                     (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2) b
            )
            SELECT vec_id, ROUND(raw_sim, 4) AS sim FROM (
                SELECT vec_id, list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), (SELECT v FROM q)) AS raw_sim
                FROM embeddings WHERE vec_id NOT IN (1, 2)
            ) ORDER BY raw_sim DESC, vec_id LIMIT 10
        """,
        "tfidf": """
            WITH cnt AS (
                SELECT doc_id, token, COUNT(*) AS cnt FROM (
                    SELECT doc_id, TRIM(t.token) AS token
                    FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(token)
                ) WHERE token <> '' GROUP BY doc_id, token
            ), dfreq AS (
                SELECT token, COUNT(DISTINCT doc_id) AS dfr FROM cnt GROUP BY token
            ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM cnt),
            raw AS (
                SELECT doc_id, cnt.token,
                       cnt * (LN((1.0 + n) / (1.0 + dfr)) + 1.0) AS tf
                FROM cnt JOIN dfreq ON cnt.token = dfreq.token CROSS JOIN nd
            )
            SELECT doc_id, token,
                   ROUND(tf / SQRT(SUM(tf * tf) OVER (PARTITION BY doc_id)), 6) AS tfidf
            FROM raw
        """,
        "standardize": """
            SELECT s_suppkey, feature, ROUND(z, 6) AS z FROM (
                SELECT s_suppkey, s_nationkey AS feature,
                       (s_acctbal - AVG(s_acctbal) OVER w) /
                       (CASE WHEN STDDEV_POP(s_acctbal) OVER w > 0
                             THEN STDDEV_POP(s_acctbal) OVER w ELSE 1.0 END) AS z
                FROM supplier
                WINDOW w AS (PARTITION BY s_nationkey)
            )
        """,
        "minmax_scale": """
            SELECT c_custkey, feature, ROUND(scaled, 6) AS scaled FROM (
                SELECT c_custkey, c_nationkey AS feature,
                       (c_acctbal - MIN(c_acctbal) OVER w) /
                       (CASE WHEN MAX(c_acctbal) OVER w - MIN(c_acctbal) OVER w > 0
                             THEN MAX(c_acctbal) OVER w - MIN(c_acctbal) OVER w
                             ELSE 1.0 END) AS scaled
                FROM customer
                WINDOW w AS (PARTITION BY c_nationkey)
            )
        """,
        "interp_topk": """
            WITH ab AS (
                SELECT a.v AS va, b.v AS vb
                FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1) a,
                     (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2) b
            ), q AS (
                SELECT s.step,
                       list_transform(range(1, len(va) + 1),
                                      i -> (1.0 - s.step / 4.0) * va[i] + (s.step / 4.0) * vb[i]) AS v
                FROM ab, (VALUES (0), (1), (2), (3), (4)) AS s(step)
            )
            SELECT step, vec_id, ROUND(raw_sim, 4) AS sim FROM (
                SELECT q.step, e.vec_id,
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v) AS raw_sim,
                       ROW_NUMBER() OVER (PARTITION BY q.step
                                          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v) DESC,
                                                   e.vec_id) AS rk
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id NOT IN (1, 2)
            ) WHERE rk <= 5
        """,
        "sessionize": """
            WITH t AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN LAG(ts) OVER w IS NULL
                                 OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts, value,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM t
            )
            SELECT user_id, MIN(ts) AS session_start,
                   COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "dedup_components": """
            WITH RECURSIVE e AS (
                SELECT a.o_orderkey AS u, b.o_orderkey AS v
                FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 32
                WHERE (a.o_orderkey // 32) % 4 < 3
            ), und AS (
                SELECT u, v FROM e UNION SELECT v, u FROM e
            ), nodes AS (
                SELECT DISTINCT u AS id FROM und
            ), reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r
            )
            SELECT id, MIN(r) AS component FROM reach GROUP BY id
        """,
        "grouping_sets": """
            SELECT event_type, user_id, COUNT(*) AS n,
                   CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total
            FROM events
            GROUP BY GROUPING SETS ((event_type), (user_id))
        """,
        "hof_array_ops": """
            SELECT vec_id,
                   ROUND(COALESCE(list_sum(
                       list_filter(
                           list_transform(CAST(embedding AS DOUBLE[]), x -> x*x),
                           x -> x > 0.25)), 0.0), 4) AS energy,
                   len(list_filter(
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x*x),
                       x -> x > 0.25)) AS n_big
            FROM embeddings
        """,
        "keep_canonical_graph": """
            WITH RECURSIVE e AS (
                SELECT a.o_orderkey AS u, b.o_orderkey AS v
                FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 32
                WHERE (a.o_orderkey // 32) % 4 < 3
            ), und AS (
                SELECT u, v FROM e UNION SELECT v, u FROM e
            ), nodes AS (
                SELECT DISTINCT u AS id FROM und
            ), reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r
            ), losers AS (
                SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
                WHERE id <> component
            )
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey NOT IN (SELECT id FROM losers)
        """,
        "knn_ivf_exact": """
            SELECT vec_id, ROUND(raw_sim, 4) AS sim FROM (
                SELECT vec_id, list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS raw_sim
                FROM embeddings WHERE vec_id <> 0
            ) ORDER BY raw_sim DESC, vec_id LIMIT 10
        """,
        "phash_band_pairs": """
            WITH img AS (
                SELECT o_orderkey AS oid,
                       CASE WHEN o_orderkey % 2 = 0
                            THEN (o_orderkey // 2) * 2654435761
                            ELSE xor(xor((o_orderkey // 2) * 2654435761,
                                         (CAST(1 AS BIGINT) << (o_orderkey % 60))),
                                     (CAST(1 AS BIGINT) << ((o_orderkey * 7) % 60)))
                       END AS phash
                FROM orders WHERE o_orderkey % 8 < 2
            )
            SELECT a.oid AS id_a, b.oid AS id_b,
                   bit_count(xor(a.phash, b.phash)) AS hamming
            FROM img a JOIN img b ON a.oid < b.oid
            WHERE bit_count(xor(a.phash, b.phash)) <= 6
        """,
    }
