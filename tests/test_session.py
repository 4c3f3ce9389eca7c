"""plans/session: the worker import path travels with the session, so
Python workers import hex2vec_spark whatever directory the application
started in; and the session plan cache (session_cached) reuses what the
benchmark relies on, bounds itself and dies with its session."""

import gc
import os
import types
import uuid
import weakref

import numpy as np
import pandas as pd

from hex2vec_spark.plans import session

KEY = "spark.executorEnv.PYTHONPATH"


class TestWorkerImportPath:
    def test_session_sets_package_root(self, spark):
        def worker_pythonpath(batches):
            import os

            import pandas as pd

            for _ in batches:
                yield pd.DataFrame({"p": [os.environ.get("PYTHONPATH", "")]})

        root = session.PACKAGE_ROOT
        assert os.path.isdir(os.path.join(root, "hex2vec_spark"))
        assert spark.sparkContext.getConf().get(KEY) == root
        seen = spark.range(1).mapInPandas(worker_pythonpath, "p string").first()["p"]
        assert root in seen.split(os.pathsep)

    def test_extra_overrides_package_root(self):
        assert session.session_conf()[KEY] == session.PACKAGE_ROOT
        conf = session.session_conf(extra={KEY: "/elsewhere"})
        assert conf[KEY] == "/elsewhere"
        # the profile still applies underneath the override
        assert conf["spark.sql.adaptive.enabled"] == "true"


class TestDefaultDriverMem:
    def _with_host_gb(self, monkeypatch, gb: float) -> str:
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(gb * 2**30) // 4096}
        monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
        return session.default_driver_mem()

    def test_scales_with_host_memory(self, monkeypatch):
        assert self._with_host_gb(monkeypatch, 16) == "6g"
        assert self._with_host_gb(monkeypatch, 64) == "25g"

    def test_clamped_to_1_and_48_gb(self, monkeypatch):
        assert self._with_host_gb(monkeypatch, 1) == "1g"
        assert self._with_host_gb(monkeypatch, 512) == "48g"


class _FakeSession:
    """What session_cached reads of a SparkSession: the context's _jsc,
    which is None once the session is stopped."""

    def __init__(self):
        self.sparkContext = types.SimpleNamespace(_jsc=object())


def _small_regions(tag: str) -> pd.DataFrame:
    """One ~5 km quad, shifted by ``tag`` so each test polyfills its own
    content key."""
    d = (sum(map(ord, tag)) % 97) * 1e-4
    return pd.DataFrame({
        "region_id": [f"q-{tag}"],
        "ring_lat": [[40.70 + d, 40.70 + d, 40.75 + d, 40.75 + d]],
        "ring_lng": [[-74.00, -73.95, -73.95, -74.00]],
    })


def _write_phash(spark, path: str, phash: np.ndarray) -> None:
    spark.createDataFrame(pd.DataFrame({"phash": phash})).write.mode(
        "overwrite"
    ).parquet(path)


class TestSessionCache:
    def test_cap_lru_and_stopped_session_eviction(self):
        s = _FakeSession()
        built = []

        def get(k):
            return session.session_cached(
                s, ("k", k), lambda: built.append(k) or f"plan{k}"
            )

        cap = session.PLAN_CACHE_CAP
        for i in range(cap + 5):
            assert get(i) == f"plan{i}"
        assert len(vars(s)[session._PLAN_CACHE_ATTR]) == cap
        built.clear()
        assert get(cap + 4) == f"plan{cap + 4}" and built == []     # a hit
        # LRU refresh: 5 is the oldest entry; a hit keeps it through a
        # new put, which evicts 6 instead
        assert get(5) == "plan5" and built == []
        get(cap + 5)
        assert get(5) == "plan5" and built == [cap + 5]
        assert get(6) == "plan6" and built == [cap + 5, 6]          # LRU-evicted
        assert get(0) == "plan0" and built[-1] == 0
        # stopped session: its entries go on the next lookup, and it
        # caches nothing
        s.sparkContext._jsc = None
        assert get(5) == "plan5" and built[-1] == 5
        assert session._PLAN_CACHE_ATTR not in vars(s)
        get(5)
        assert built[-2:] == [5, 5]
        assert session._PLAN_CACHE_ATTR not in vars(s)

    def test_no_module_level_reference_to_the_session(self):
        s = _FakeSession()
        calls = []

        def build():
            calls.append(1)
            # a cached DataFrame points back at its session
            return types.SimpleNamespace(sparkSession=s)

        plan = session.session_cached(s, "k", build)
        assert session.session_cached(s, "k", build) is plan and len(calls) == 1
        ref = weakref.ref(s)
        del s, plan, build
        gc.collect()
        assert ref() is None  # the cache cycle went with the session

    def test_session_freed_after_use(self, spark, tmp_path):
        """Every cache user run over a session leaves nothing that keeps
        the session alive once the caller drops it."""
        base = str(tmp_path)
        # written through the fixture session: createDataFrame makes its
        # session the active one, which would pin the session under test
        _write_phash(spark, os.path.join(base, "t.parquet"), np.arange(8, dtype=np.int64))
        ref = self._use_all_caches(spark.newSession(), base)
        # PySpark points RDD.toDF at the newest session; a newer one
        # moves that pin off the session under test
        pin = spark.newSession()
        gc.collect()
        assert ref() is None
        del pin

    @staticmethod
    def _use_all_caches(s, base: str) -> weakref.ref:
        import __spark_entry__ as entrymod
        from hex2vec_spark.operators.spatial import assign_h3, tiling_table
        from hex2vec_spark.sources.synth import images_table_cached

        assert entrymod._load(s, base, "t").count() == 8
        imgs = images_table_cached(s, 16, base_dir=base)
        assert assign_h3(imgs, 8).where("h3 > 0").count() == 16
        tiling = tiling_table(
            s, res=7, regions_pdf=_small_regions("leak"),
            path=os.path.join(base, f"tiling-{uuid.uuid4().hex[:8]}"),
        )
        assert tiling.count() > 0
        return weakref.ref(s)


class TestBenchmarkReuse:
    """The hits the benchmark's workloads rely on: the flagship's encode
    plan on every pass, pair_joins' table scans and its dataset builds'
    tiling."""

    def test_encode_plan_reused(self, spark, tmp_path):
        from hex2vec_spark.operators.spatial import assign_h3

        path = str(tmp_path / "imgs")
        _write_phash(spark, path, np.arange(100, dtype=np.int64) * 7919)
        scan = spark.read.parquet(path)
        assert assign_h3(scan, 8) is assign_h3(scan, 8)
        assert assign_h3(spark.read.parquet(path), 8) is assign_h3(scan, 8)
        assert assign_h3(scan, 9) is not assign_h3(scan, 8)

    def test_encode_lookups_counted(self, spark, tmp_path):
        from hex2vec_spark.operators.spatial import assign_h3

        path = str(tmp_path / "imgs")
        _write_phash(spark, path, np.arange(10, dtype=np.int64) * 7919)
        scan = spark.read.parquet(path)
        before = session.plan_cache_counts(spark)
        first = assign_h3(scan, 8)
        mid = session.plan_cache_counts(spark)
        assert assign_h3(scan, 8) is first
        after = session.plan_cache_counts(spark)
        assert mid - before == {"encode.miss": 1}
        assert after - mid == {"encode.hit": 1}

    def test_rewritten_directory_gets_a_new_plan(self, spark, tmp_path):
        from hex2vec_spark.functions.h3_fns import h3_from_phash_np
        from hex2vec_spark.operators.spatial import assign_h3

        path = str(tmp_path / "stage")
        old = np.arange(50, dtype=np.int64) * 104729
        _write_phash(spark, path, old)
        first = assign_h3(spark.read.parquet(path), 8)
        assert sorted(r[0] for r in first.select("phash").collect()) == old.tolist()
        new = old + 1_000_003
        _write_phash(spark, path, new)  # new part-file names, same path
        second = assign_h3(spark.read.parquet(path), 8)
        assert second is not first
        got = second.select("phash", "h3").toPandas().sort_values("phash")
        assert got["phash"].tolist() == new.tolist()
        assert got["h3"].tolist() == h3_from_phash_np(new, 8).tolist()

    def test_load_reuses_the_scan(self, spark, tmp_path):
        import __spark_entry__ as entrymod

        _write_phash(spark, str(tmp_path / "t.parquet"), np.arange(4, dtype=np.int64))
        first = entrymod._load(spark, str(tmp_path), "t")
        assert entrymod._load(spark, str(tmp_path), "t") is first
        assert entrymod._load(spark.newSession(), str(tmp_path), "t") is not first

    def test_tiling_polyfilled_once_per_session(self, spark, tmp_path, monkeypatch):
        from hex2vec_spark.operators import spatial

        calls = []
        build = spatial.build_tiling

        def counting(*a, **k):
            calls.append(1)
            return build(*a, **k)

        monkeypatch.setattr(spatial, "build_tiling", counting)
        regions = _small_regions("reuse")
        a = spatial.tiling_table(spark, res=7, regions_pdf=regions, path=str(tmp_path / "a"))
        b = spatial.tiling_table(spark, res=7, regions_pdf=regions, path=str(tmp_path / "b"))
        assert len(calls) == 1
        assert sorted(a.collect()) == sorted(b.collect()) and a.count() > 0
        # another res is another polyfill
        spatial.tiling_table(spark, res=6, regions_pdf=regions, path=str(tmp_path / "c"))
        assert len(calls) == 2
