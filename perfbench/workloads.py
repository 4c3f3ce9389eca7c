"""The benchmark's workloads: each is a list of op types plus the set-up
and the correctness check of every op.

An op is one closed-loop request: a builder call into a public library
function (``build``), then a ``noop`` write of the DataFrame it returns.
``check`` takes the DataFrame of one untimed ``build`` and returns
``(None, rows)`` when the output is right, or a one-line reason in place
of ``None`` when it is not.

* ``flagship``: scan -> ``assign_h3`` -> broadcast tiling join ->
  ``explode_caption_tags`` -> ``salted_count``.
* ``pair_joins``: the pair-building registry queries, a direct
  ``operators.dedup.phash_near_dup`` call on a degenerate-band input, and
  one ``dataset_build`` op (``plans.pipeline.build_dataset`` into a fresh
  root, ``merge_table`` upsert, ``load_processed`` read-back), the only op
  that writes tables.
"""

from __future__ import annotations

import os
import sys
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

import inputs

FLAGSHIP_ROWS = 200_000
# the registry's ENTRY_RES: at res 9 the polyfill alone takes ~4.5 s per
# set-up on 4 cores, more than a run can afford three times
FLAGSHIP_RES = 8
FLAGSHIP_KEYS = ["region_id", "h3", "feature"]
DATASET_ROWS = 20_000
PAIR_SF = 0.01
PHASH_ROWS = 3_000
PHASH_MAX_HAMMING = 6
PAIR_QUERIES = ["interval_join_agg", "embedding_near_dup", "ngram_jaccard", "pip_join_assign"]


@dataclass
class Op:
    name: str
    build: Callable  # () -> DataFrame, with a span around each layer call
    check: Callable  # (DataFrame) -> (reason or None, output rows)
    pair_join: bool = False  # builds candidate pairs and keeps some


class Workload:
    """Subclasses write their inputs in ``generate`` and fill ``ops`` in
    ``open``. ``rows`` is the input row count of an op when every op reads
    the same input (0 otherwise); ``sf`` the scale factor of registry
    tables, if any."""

    name = ""

    def __init__(self, data_dir: str, seed: int, tracer):
        self.data_dir, self.seed, self.tracer = data_dir, seed, tracer
        self.ops: list[Op] = []
        self.rows, self.sf = 0, None
        self.tiling_s = 0.0  # tiling build time of the last ``open``

    def generate(self) -> None:
        """Write this seed's inputs (not part of set-up time)."""
        raise NotImplementedError

    def open(self, spark) -> None:
        """Open inputs and build dimensions for a fresh session."""
        raise NotImplementedError


# ------------------------------------------------------- expected results


def expected_features(images: pd.DataFrame, tiling: pd.DataFrame, res: int) -> pd.DataFrame:
    """(region_id, h3, feature, count) computed with the NumPy H3 kernel:
    the oracle for the flagship and dataset-build aggregates."""
    from hex2vec_spark.functions.h3_fns import h3_from_phash_np

    cells = pd.DataFrame(
        {"h3": h3_from_phash_np(images["phash"].to_numpy(), res), "caption": images["caption"]}
    )
    joined = cells.merge(tiling[["region_id", "h3"]], on="h3")
    tags = joined.assign(feature=joined["caption"].str.split(";")).explode("feature")
    tags["feature"] = tags["feature"].str.strip()
    tags = tags[tags["feature"] != ""]
    return tags.groupby(FLAGSHIP_KEYS).size().rename("count").reset_index()


def _agg_mismatch(df, want_rows: int, want_sum: float) -> tuple[str | None, int]:
    from pyspark.sql import functions as F

    got = df.agg(F.count(F.lit(1)).alias("n"), F.sum("count").alias("s")).collect()[0]
    if got["n"] != want_rows or float(got["s"] or 0) != float(want_sum):
        return f"groups {got['n']} vs {want_rows}, summed count {got['s']} vs {want_sum}", got["n"]
    return None, got["n"]


def _oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The correctness gate's rule (tools/check_correctness.py): column
    names, row count and order-insensitive value hash."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    saved = list(sys.path)  # the tool edits sys.path when imported
    try:
        from tools.check_correctness import value_hash
    finally:
        sys.path[:] = saved
    if value_hash(got) != value_hash(want):
        return "value hash differs from the DuckDB oracle"
    return None


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_pairs(ids: np.ndarray, ph: np.ndarray, max_d: int, chunk: int = 256) -> set:
    """All (id_a < id_b, distance) pairs within ``max_d`` bits, by chunked
    NumPy all-pairs popcount."""
    u = ph.view(np.uint64)
    out = set()
    for s in range(0, len(u), chunk):
        x = u[s : s + chunk, None] ^ u[None, :]
        d = _POPCOUNT8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=2)
        ia, ib = np.nonzero(d <= max_d)
        for a, b in zip(ia + s, ib):
            if ids[a] < ids[b]:
                out.add((int(ids[a]), int(ids[b]), int(d[a - s, b])))
    return out


# --------------------------------------------------------------- flagship


class Flagship(Workload):
    name = "flagship"

    def generate(self) -> None:
        self.rows = FLAGSHIP_ROWS
        self.images_path = os.path.join(self.data_dir, "images")
        # one row group per file and two files per core: every core scans
        self.images = inputs.write_images(
            self.seed, self.rows, self.images_path, n_files=2 * (os.cpu_count() or 4)
        )
        self._expected = None

    def open(self, spark) -> None:
        """Open the images and polyfill the default regions (hexlib) into a
        fresh path, bypassing every on-disk and in-process tiling cache."""
        from hex2vec_spark.operators import spatial
        from hex2vec_spark.sources.synth import regions_pandas

        with self.tracer.span("sources.read_parquet"):
            self.scan = spark.read.parquet(self.images_path)
        path = os.path.join(self.data_dir, f"tiling-{uuid.uuid4().hex[:8]}")
        t0 = time.perf_counter()
        with self.tracer.span("operators.spatial.build_tiling"):
            self.tiling_pdf = spatial.build_tiling(regions_pandas(), res=FLAGSHIP_RES)
            spatial.write_tiling_parquet(self.tiling_pdf, path)
            self.tiling = spatial.tiling_table(spark, res=FLAGSHIP_RES, path=path)
        self.tiling_s = time.perf_counter() - t0
        self.ops = [Op("flagship", self.build, self.check)]

    def build(self):
        from hex2vec_spark.operators.agg import explode_caption_tags, salted_count
        from hex2vec_spark.operators.spatial import spatial_join

        with self.tracer.span("operators.spatial.spatial_join"):
            joined = spatial_join(self.scan, self.tiling, res=FLAGSHIP_RES)
        with self.tracer.span("operators.agg.explode_caption_tags"):
            tags = explode_caption_tags(joined)
        with self.tracer.span("operators.agg.salted_count"):
            return salted_count(tags, FLAGSHIP_KEYS)

    def check(self, df) -> tuple[str | None, int]:
        if self._expected is None:
            self._expected = expected_features(self.images, self.tiling_pdf, FLAGSHIP_RES)
        want = self._expected
        return _agg_mismatch(df, len(want), want["count"].sum())

    def prefixes(self) -> list[tuple[str, Callable]]:
        """The flagship pass cut after each stage, each projected to the
        columns the next stage reads: noop-timing each and subtracting the
        previous prefix splits a pass into scan / encode / join / explode
        / agg."""
        from hex2vec_spark.operators.agg import explode_caption_tags
        from hex2vec_spark.operators.spatial import assign_h3, spatial_join

        scan, tiling, res = self.scan, self.tiling, FLAGSHIP_RES
        return [
            ("scan", lambda: scan.select("caption", "phash")),
            ("encode", lambda: assign_h3(scan, res).select("h3", "caption")),
            ("join", lambda: spatial_join(scan, tiling, res).select("region_id", "h3", "caption")),
            ("explode", lambda: explode_caption_tags(
                spatial_join(scan, tiling, res)).select(*FLAGSHIP_KEYS)),
            ("agg", self.build),
        ]


# ------------------------------------------------------------- pair joins


class PairJoins(Workload):
    name = "pair_joins"

    def generate(self) -> None:
        self.sf = PAIR_SF
        self.sf_dir = os.path.join(self.data_dir, f"sf{self.sf}")
        self.tables = inputs.write_tables(self.seed, self.sf, self.sf_dir)
        self._duck = None
        self.phash_path = os.path.join(self.data_dir, "phash_pairs.parquet")
        self.phash = inputs.phash_pairs_pandas(self.seed, PHASH_ROWS)
        inputs.write_parquet(self.phash, self.phash_path)
        self._phash_expected = None
        self.ds_path = os.path.join(self.data_dir, "dataset_images")
        self.ds_images = inputs.write_images(self.seed, DATASET_ROWS, self.ds_path, n_files=4)
        self.ds_region = f"r{self.seed % 10:02d}"
        self._ds_expected = None
        self.ds_roots: list[str] = []

    def open(self, spark) -> None:
        import __spark_entry__ as entrymod

        self.spark = spark
        self.registry = entrymod.queries()
        self.oracle_sql = entrymod.oracle_sql()
        with self.tracer.span("sources.read_parquet"):
            self.phash_scan = spark.read.parquet(self.phash_path)
        self.ops = [
            Op(n, self._registry_build(n), self._registry_check(n), pair_join=True)
            for n in PAIR_QUERIES
        ]
        self.ops.append(Op("phash_near_dup", self.phash_build, self.phash_check, pair_join=True))
        self.ops.append(Op("dataset_build", self.dataset_build, self.dataset_check))

    # -- registry queries over the seed's fixture tables
    def _registry_build(self, name: str) -> Callable:
        def build():
            with self.tracer.span("__spark_entry__.queries"):
                return self.registry[name](self.spark, self.sf_dir)

        return build

    def _registry_check(self, name: str) -> Callable:
        def check(df) -> tuple[str | None, int]:
            got = df.toPandas()
            if name not in self.oracle_sql:
                return (None if len(got) else "zero rows (rows-only query)"), len(got)
            return _oracle_mismatch(got, self.duck().sql(self.oracle_sql[name]).df()), len(got)

        return check

    def duck(self):
        """DuckDB over the same parquet tables, for the oracle queries."""
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for t in self.tables:
                self._duck.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return self._duck

    # -- pHash near-dup on one degenerate band
    def phash_build(self):
        from hex2vec_spark.operators.dedup import phash_near_dup

        with self.tracer.span("operators.dedup.phash_near_dup"):
            return phash_near_dup(self.phash_scan, max_hamming=PHASH_MAX_HAMMING, id_col="oid")

    def phash_check(self, df) -> tuple[str | None, int]:
        if self._phash_expected is None:
            self._phash_expected = hamming_pairs(
                self.phash["oid"].to_numpy(), self.phash["phash"].to_numpy(), PHASH_MAX_HAMMING
            )
        rows = df.collect()
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}
        want = self._phash_expected
        if len(rows) != len(want) or got != want:
            return f"{len(rows)} pairs vs {len(want)} from the NumPy all-pairs check", len(rows)
        return None, len(rows)

    # -- the one op that writes tables
    def dataset_build(self):
        """build_dataset into a fresh root and fingerprint, upsert the
        seed's region slice with count + 1 through merge_table, and return
        the load_processed read-back of the merged snapshot."""
        from pyspark.sql import functions as F

        from hex2vec_spark.operators.merge import merge_table
        from hex2vec_spark.plans.pipeline import build_dataset, load_processed
        from hex2vec_spark.sources.synth import regions_pandas

        spark, tr = self.spark, self.tracer
        root = os.path.join(self.data_dir, "datasets", uuid.uuid4().hex[:12])
        self.ds_roots.append(root)
        with tr.span("plans.pipeline.build_dataset"):
            build_dataset(
                spark, spark.read.parquet(self.ds_path), regions_pandas(), root,
                res=FLAGSHIP_RES, n_buckets=2, input_fingerprint=f"fp-{uuid.uuid4().hex[:12]}",
            )
        with tr.span("operators.merge.merge_table"):
            src = load_processed(spark, root, select_regions=[self.ds_region]).withColumn(
                "count", F.col("count") + 1
            )
            merge_table(spark, os.path.join(root, "features"), src, on=FLAGSHIP_KEYS,
                        update_cols=["count"], partition_res=FLAGSHIP_RES - 5)
        with tr.span("plans.pipeline.load_processed"):
            return load_processed(spark, root)

    def dataset_check(self, df) -> tuple[str | None, int]:
        if self._ds_expected is None:
            from hex2vec_spark.operators.spatial import build_tiling
            from hex2vec_spark.sources.synth import regions_pandas

            tiling = build_tiling(regions_pandas(), res=FLAGSHIP_RES)
            self._ds_expected = expected_features(self.ds_images, tiling, FLAGSHIP_RES)
        want = self._ds_expected
        bumped = int((want["region_id"] == self.ds_region).sum())
        return _agg_mismatch(df, len(want), want["count"].sum() + bumped)

    def written(self) -> list[tuple[int, int]]:
        """(bytes, files) under each dataset root this run wrote."""
        out = []
        for root in self.ds_roots:
            sizes = [
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
            ]
            out.append((sum(sizes), len(sizes)))
        return out

    def input_bytes(self) -> int:
        """Bytes of the input columns build_dataset reads."""
        import pyarrow.parquet as pq

        total = 0
        for f in os.listdir(self.ds_path):
            md = pq.ParquetFile(os.path.join(self.ds_path, f)).metadata
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    if col.path_in_schema in ("image_id", "caption", "phash"):
                        total += col.total_compressed_size
        return total


WORKLOADS = {w.name: w for w in (Flagship, PairJoins)}
