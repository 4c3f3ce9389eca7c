"""SparkSession builder with the engine's config profile.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan + skew-join +
partition coalescing), Arrow batches capped so decoded-pixel UDF batches
fit executor memory, shuffle partitions sized for local[32] testing but
overridable for cluster runs via spark-submit --conf.
"""

from __future__ import annotations

import os
from collections import Counter, OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

# the directory that holds the hex2vec_spark package (a checkout root, or
# a zip when the package is shipped as one): Python workers import the
# package from here, whatever directory the application started in
PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


# the most entries one session's plan cache keeps (least recently used
# go first)
PLAN_CACHE_CAP = 64
_PLAN_CACHE_ATTR = "_hex2vec_plan_cache"


class _PlanCache(OrderedDict):
    """One session's LRU, plus its lookups counted per key tag
    (``"load.hit"``, ``"encode.miss"``, ...)."""

    def __init__(self):
        super().__init__()
        self.counts: Counter = Counter()


def session_cached(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``, memoized per session under ``key`` (tag the key with
    its kind, e.g. ``("load", path)``).

    The cache is an LRU dict of at most PLAN_CACHE_CAP entries stored as
    an attribute of the session object, so nothing module-level refers to
    the session: a cached DataFrame points back at its session, and the
    garbage collector frees the session, its cache and its plans together.
    A stopped session (``sparkContext._jsc is None``) drops its cache on
    the next lookup and caches nothing. Values are lazy plans or small
    driver-side frames, never query results; DataFrames are immutable, so
    handing out the same object twice is safe. Each lookup counts a hit
    or a miss under the key's tag (see plan_cache_counts)."""
    try:
        live = spark.sparkContext._jsc is not None
    except Exception:  # non-classic session: no SparkContext to check
        live = False
    if not live:
        vars(spark).pop(_PLAN_CACHE_ATTR, None)
        return build()
    cache = vars(spark).setdefault(_PLAN_CACHE_ATTR, _PlanCache())
    tag = key[0] if isinstance(key, tuple) else key
    if key in cache:
        cache.counts[f"{tag}.hit"] += 1
        cache.move_to_end(key)
        return cache[key]
    cache.counts[f"{tag}.miss"] += 1
    value = cache[key] = build()
    while len(cache) > PLAN_CACHE_CAP:
        cache.popitem(last=False)
    return value


def plan_cache_counts(spark: SparkSession) -> Counter:
    """A copy of the session's plan-cache hits and misses per key tag
    since its cache was made (empty before the first lookup)."""
    cache = vars(spark).get(_PLAN_CACHE_ATTR)
    return Counter(cache.counts) if cache is not None else Counter()


def profile_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's config profile as a plain dict — get_spark applies
    all of it; spark-submit jobs (tools/submit_job.py) apply only the
    keys the user did NOT pass via --conf, so cluster tuning flags keep
    precedence (Builder.config would silently override them)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # one shuffle partition per core: AQE coalescing handles small
        # stages, and measured local runs lose ~25% on the aggregation
        # with 2x-core partitions (scheduling + final-stage overhead).
        # Cluster runs override via spark-submit --conf (respected by
        # submit_job's missing-keys-only application).
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    return {
        "spark.sql.session.timeZone": "UTC",
        # guide §6/§9: big sequential scans want large splits — the 25 GB
        # flagship input at the 128 MB default fragments into ~208 tasks
        # whose per-task footer/open cost dominates a 3-column read
        # (measured 0.27 s -> 0.16 s at 1g). Small tables keep full scan
        # parallelism via the files.minPartitionNum floor
        # (totalBytes/minPartitionNum caps the split size first).
        "spark.sql.files.maxPartitionBytes": "1g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "false",
        "spark.sql.analyzer.maxIterations": "300",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.maxResultSize": "4g",
    }


def session_conf(
    shuffle_partitions: int | None = None, extra: dict | None = None
) -> dict[str, str]:
    """Everything get_spark sets beyond its fixed basics: the worker
    import path, the profile (see profile_conf), then ``extra``, which
    overrides both."""
    conf = {"spark.executorEnv.PYTHONPATH": PACKAGE_ROOT}
    conf.update(profile_conf(shuffle_partitions))
    conf.update(extra or {})
    return conf


def default_driver_mem() -> str:
    """The driver heap when SPARK_GRAFT_MEM is unset: 40 % of the host's
    physical memory, 1-48 GB. A fixed large heap lets a local-mode JVM
    defer collection until its RSS outgrows a small host's RAM, and the
    OOM killer then ends the session mid-run."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, int(total * 0.4) >> 30))}g"


def get_spark(
    app_name: str = "hex2vec-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    mem = os.environ.get("SPARK_GRAFT_MEM") or default_driver_mem()
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the JVM starts at getOrCreate, so driver memory set
        # here does apply; binary image columns push netty direct buffers
        # past the 1g default
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=8g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # the worker import path: Spark puts spark.executorEnv.PYTHONPATH
    # ahead of the inherited one in every Python worker, so UDF and
    # mapInPandas workers find hex2vec_spark even when the application
    # only has it through a sys.path insert.
    # The shared profile (see profile_conf). Rationale for the two
    # non-obvious entries:
    # * UTC pin — timestamp literals and date_format render in the
    #   session zone; the DuckDB oracle prints raw stored values, so any
    #   host TZ other than UTC would shift every compared timestamp.
    # * Dynamic partition pruning OFF — its planning rule
    #   (PartitionPruning.trimAliases) substitutes alias trees through
    #   Project stacks while merely EXAMINING join keys; through the
    #   res+2-level JVM H3 encode chain (functions/h3_expr) that walk is
    #   exponential (~6x/level — observed OOM at res 8; re-measured
    #   round 3: a 4,000-row chain join with DPP on did not finish
    #   optimizing in 180 s). Scoping the conf around chain-bearing
    #   queries is NOT sound: optimization runs at ACTION time, after
    #   any build-time set/restore, and Spark has no non-materializing
    #   optimizer barrier (localCheckpoint would cache the 10^12-row
    #   fact). DPP is inert for this engine's plan shapes anyway: the
    #   big fact side is scanned in full and dimensions are broadcast;
    #   table layouts prune STATICALLY via h3_p4 partition predicates
    #   (sources/iceberg_lite.commit_table + test_plans). Cluster jobs
    #   joining runtime-filtered partitioned facts without the JVM
    #   encode chain can re-enable via --conf or extra={...: "true"}.
    # Also: analyzer.maxIterations=300 gives the lateral-alias encode
    # chain headroom (~2 alias ranks per aperture-7 level), and
    # dataFrameDebugging off removes PySpark 4's per-API-call
    # inspect.stack walk (0.5+ s per complex plan construction).
    for k, v in session_conf(shuffle_partitions, extra).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
