"""Profile registry queries or named input sets, one op at a time.

An op is a zero-argument builder that returns a DataFrame. Each op is
built and counted once (the warm-up, which also gives its row count);
then each of ``--passes`` passes builds it again and runs a ``noop``
write, read through Probe (perfbench's StatusProbe). One JSON line per
op gives the fastest pass: build and action seconds, the jobs the build
started, stages, tasks, executor/CPU/GC seconds, the max/median
task-time skew, the driver gap, shuffle and spill MB, rows out of
scans, joins, Python nodes and aggregates, and the session plan cache's
hits and misses over all of the op's builds. A table of all ops,
slowest first, ends the run.

Usage:
  python tools/profile.py                       # bench.py's headline queries
  python tools/profile.py --queries all         # every registry query
  python tools/profile.py --queries topk,self_join --passes 3 --plans DIR
  python tools/profile.py --inputs pip --rows 1000000 --cpus 2,4

Queries run over $SPARK_GRAFT_SF_DIR (default: bench.py's) on
local[$SPARK_GRAFT_CPUS] (default: every core). ``--inputs`` names a set
of generated inputs instead (see INPUTS); ``--rows`` sets its fact-side
row count. ``--plans DIR`` writes each op's ``explain("formatted")`` to
DIR/<op>.txt. ``--cpus N,M`` runs the CLI once per level in a fresh
process, then prints each op's throughput per level and the scaling
efficiency (T_first / T_last) / (M / N).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback
from functools import partial

if __name__ == "profile":
    # Imported as the standard library's `profile`: a script in this
    # directory (or a process started in it) has the directory first on
    # sys.path, and pyspark imports cProfile, which imports `profile`.
    # Hand the importer the standard library's module instead.
    import importlib.util
    import sysconfig

    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_path("stdlib"), "profile.py")
    )
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import StatusProbe  # noqa: E402


class Probe(StatusProbe):
    """StatusProbe that finds the op's SQL executions by id. The SQL
    status store keeps at most spark.sql.ui.retainedExecutions (1,000)
    executions and, once full, drops the oldest as each new one ends, so
    its count stops growing and the offset StatusProbe took at ``begin``
    no longer points at the op's first execution: every later op read
    zero rows. Execution ids grow by one per execution, and the op's own
    executions are the newest, so their offset is the count less their
    number."""

    def _newest_id(self) -> int:
        n = self.sql_store.executionsCount()
        return self.sql_store.executionsList(n - 1, 1).head().executionId() if n else -1

    def begin(self, name: str) -> str:
        group = super().begin(name)
        self._last_id = self._newest_id()
        return group

    def _sql_metrics(self) -> dict:
        self._exec0 = self.sql_store.executionsCount() - (self._newest_id() - self._last_id)
        return super()._sql_metrics()

# ------------------------------------------------------------ input sets


def u(col, salt: int):
    """A uniform in [0, 1) that is a pure function of ``col``: the same
    rows at every partitioning and parallelism level, which rand() is
    not."""
    from pyspark.sql import functions as F

    p = 1_000_000_007
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(p)).cast("double") / F.lit(float(p))


def _points(spark, n: int, lat0: float, lat_span: float, lng0: float, lng_span: float,
            salts: tuple[int, int] = (7, 11)):
    """n points (id, lat, lng) in a box, materialized once so every pass
    times the join and not the generator."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        "id",
        (F.lit(lat0) + u("id", salts[0]) * lat_span).alias("lat"),
        (F.lit(lng0) + u("id", salts[1]) * lng_span).alias("lng"),
    ).localCheckpoint()


def _convex_polygons(batches):
    """Irregular convex polygons, the rng seeded per id, so the set is
    the same at every partitioning (axis-aligned rectangles would make
    the ray-cast verify trivially selective)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for i in pdf["id"].to_numpy():
            rng = np.random.default_rng(int(i) + 1)
            cy, cx = 40.0 + rng.uniform(0, 2), 14.0 + rng.uniform(0, 3)
            k = int(rng.integers(4, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            r = rng.uniform(0.005, 0.02, k)
            rows.append({
                "obj_id": "p%07d" % int(i),
                "ring_lat": (cy + r * np.sin(ang)).tolist(),
                "ring_lng": (cx + r * np.cos(ang)).tolist(),
            })
        yield pd.DataFrame(rows)


def pip_inputs(spark, rows: int) -> dict:
    """pip_join: hash-placed points vs 20k irregular convex polygons."""
    from hex2vec_spark.operators.geo_join import pip_join

    pts = _points(spark, rows, 40.0, 2.0, 14.0, 3.0)
    polys = spark.range(20_000).mapInPandas(
        _convex_polygons, "obj_id string, ring_lat array<double>, ring_lng array<double>"
    ).localCheckpoint()
    return {"pip_join": lambda: pip_join(pts, polys, cell_deg=0.05)}


def geojoin_inputs(spark, rows: int) -> dict:
    """distance_join: uniform points in a ~550 x 750 km box, self-joined
    at 100 m, each pair once."""
    from pyspark.sql import functions as F

    from hex2vec_spark.operators.geo_join import distance_join

    pts = _points(spark, rows, 45.0, 5.0, 10.0, 10.0)
    right = pts.select(
        F.col("id").alias("id2"), F.col("lat").alias("lat2"), F.col("lng").alias("lng2")
    )

    def self_join():
        out = distance_join(pts, right, 100.0, right_lat_col="lat2", right_lng_col="lng2")
        return out.where(F.col("id") < F.col("id2"))

    return {"distance_self_join": self_join}


def sites_inputs(spark, rows: int) -> dict:
    """distance_join of fact points to 10k sites at 250 m, on the
    shuffle path and on the broadcast path (equal row counts)."""
    from pyspark.sql import functions as F

    from hex2vec_spark.operators.geo_join import distance_join

    pts = _points(spark, rows, 45.0, 5.0, 10.0, 10.0)
    sites = _points(spark, 10_000, 45.0, 5.0, 10.0, 10.0, salts=(13, 17)).select(
        F.col("id").alias("site_id"), F.col("lat").alias("slat"), F.col("lng").alias("slng")
    )

    def join(bc: bool):
        return lambda: distance_join(
            pts, sites, 250.0, right_lat_col="slat", right_lng_col="slng", broadcast_right=bc
        )

    return {"shuffle": join(False), "broadcast": join(True)}


def trainer_inputs(spark, rows: int) -> dict:
    """SGNS on `rows` hash-drawn pairs over a 50k vocabulary (dim 16, 3
    iterations): the dense trainer, the sharded one, and the sharded one
    on 25 % minibatches. Training runs in the build; each op returns
    its weight rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hex2vec_spark.operators.embed import skipgram_fit, skipgram_fit_sharded

    def word(salt: int):
        return F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(50_000))

    pairs = (
        spark.range(rows)
        .select(
            word(1).alias("input_h3"),
            word(2).alias("context_h3"),
            F.array(word(3), word(4)).alias("neg_h3s"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    fit = dict(dim=16, n_iter=3, lr=1.0, seed=3)

    def dense():
        keys, vecs, _ = skipgram_fit(pairs, init="hash", **fit)
        return spark.createDataFrame(pd.DataFrame({"key": keys, "vec": list(vecs)}))

    def sharded(batch_fraction=None):
        return lambda: skipgram_fit_sharded(pairs, batch_fraction=batch_fraction, **fit)[0]

    return {"dense": dense, "sharded": sharded(), "sharded_minibatch25": sharded(0.25)}


def flagship_inputs(spark, rows: int) -> dict:
    """bench.py's flagship plan over `rows` cached synthetic images at
    res $BENCH_RES (default 9)."""
    from bench import cached_flagship_input, flagship_plan, materialize_tiling

    res = int(os.environ.get("BENCH_RES", "9"))
    # run_flagship's Arrow batch size, for the Arrow-kernel fallback
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    path, _ = cached_flagship_input(spark, rows)
    tiling, _ = materialize_tiling(spark, res)
    return {"flagship": lambda: flagship_plan(spark, path, tiling, res)}


# name -> (default fact-side rows, builder of {op name: op})
INPUTS = {
    "pip": (5_000_000, pip_inputs),
    "geojoin": (5_000_000, geojoin_inputs),
    "sites": (20_000_000, sites_inputs),
    "trainer": (200_000, trainer_inputs),
    "flagship": (6_000_000, flagship_inputs),
}


def query_ops(spark, spec: str | None, sf_dir: str) -> dict:
    """Registry queries as ops: bench.py's HEADLINE when ``spec`` is
    None, every query for "all", else a comma list."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = entrymod.queries()
    names = HEADLINE if spec is None else list(qs) if spec == "all" else spec.split(",")
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    return {n: partial(qs[n], spark, sf_dir) for n in names}


# ------------------------------------------------------------- the loop


def profile_op(spark, probe, name: str, build, passes: int = 1, plans: str | None = None) -> dict:
    """Warm ``build`` up with one count, then time ``passes`` passes of
    build + noop write; returns the fastest pass's readings."""
    from hex2vec_spark.plans.session import plan_cache_counts

    cache0 = plan_cache_counts(spark)
    rows = build().count()
    best = None
    for _ in range(passes):
        probe.begin(name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        probe.mark_action()
        a0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        a1 = time.time()
        m = probe.end(a0, a1)
        m["entry.build_s"], m["exec.action_s"] = t1 - t0, a1 - a0
        m["total_s"] = m["entry.build_s"] + m["exec.action_s"]
        if best is None or m["total_s"] < best["total_s"]:
            best = m
    if plans:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(mode))
    return {"op": name, "rows": rows, **best, "cache": dict(plan_cache_counts(spark) - cache0)}


def _table(records: list[dict]) -> str:
    cols = [("total_s", "total_s"), ("entry.build_s", "build_s"), ("exec.action_s", "action_s"),
            ("entry.build_jobs", "bjobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
            ("exec.task_s", "task_s"), ("exec.task_skew", "skew"), ("exec.driver_gap_s", "gap_s"),
            ("shuffle.write_mb", "shuf_mb"), ("rows", "rows")]
    width = max([len(r["op"]) for r in records] + [2])
    lines = [f"{'op':<{width}} " + " ".join(f"{h:>9}" for _, h in cols)]
    for r in sorted(records, key=lambda r: -r.get("total_s", float("inf"))):
        if "error" in r:
            lines.append(f"{r['op']:<{width}} ERROR {r['error']}")
            continue
        cells = [f"{r[k]:>9.3f}" if isinstance(r[k], float) else f"{r[k]:>9}" for k, _ in cols]
        lines.append(f"{r['op']:<{width}} " + " ".join(cells))
    ok = [r for r in records if "error" not in r]
    lines.append(
        f"{len(ok)} ops, {sum(r['total_s'] for r in ok):.1f} s "
        f"(build {sum(r['entry.build_s'] for r in ok):.1f} s, "
        f"action {sum(r['exec.action_s'] for r in ok):.1f} s), {len(records) - len(ok)} failed"
    )
    return "\n".join(lines)


def run(args) -> int:
    from hex2vec_spark.plans.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    # bench.py's session shape, so the numbers compare
    spark = get_spark("profile", master=f"local[{cpus}]", shuffle_partitions=8)
    try:
        if args.inputs:
            default_rows, make = INPUTS[args.inputs]
            n = args.rows or default_rows
            ops = make(spark, n)
        else:
            import bench

            n = None
            sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
            ops = query_ops(spark, args.queries, sf_dir)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
        probe = Probe(spark)
        records = []
        for name, build in ops.items():
            try:
                rec = profile_op(spark, probe, name, build, args.passes, args.plans)
            except Exception as e:  # noqa: BLE001 - one failing op does not end the run
                traceback.print_exc()
                rec = {"op": name, "error": f"{type(e).__name__}: {e}".splitlines()[0][:300]}
            rec.update(cpus=int(cpus), n=n)
            records.append(rec)
            print(json.dumps({k: round(v, 4) if isinstance(v, float) else v
                              for k, v in rec.items()}), flush=True)
        print(_table(records))
        return 1 if any("error" in r for r in records) else 0
    finally:
        spark.stop()


def scale(args, levels: list[int]) -> int:
    """The CLI once per core count, each in a fresh process (a JVM's
    parallelism is fixed at start)."""
    argv = [sys.executable, os.path.abspath(__file__), "--passes", str(args.passes)]
    for opt in ("queries", "inputs", "rows", "plans"):
        if getattr(args, opt) is not None:
            argv += [f"--{opt}", str(getattr(args, opt))]
    by_level: dict[int, dict[str, dict]] = {}
    status = 0
    for c in levels:
        out = subprocess.run(argv, env={**os.environ, "SPARK_GRAFT_CPUS": str(c)},
                             stdout=subprocess.PIPE, text=True)
        print(out.stdout, end="", flush=True)
        status |= out.returncode
        recs = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
        by_level[c] = {r["op"]: r for r in recs}
    lo, hi = levels[0], levels[-1]
    print(f"\nscaling local[{lo}] -> local[{hi}]: efficiency = (T_{lo} / T_{hi}) / {hi / lo:g}")
    for op in by_level[lo]:
        runs = [by_level[c].get(op, {}) for c in levels]
        if any("total_s" not in r for r in runs):
            print(f"{op}: failed at some level")
            status = 1
            continue
        parts = []
        for c, r in zip(levels, runs):
            rate = f"{r['n'] / r['total_s']:,.0f} rows/s" if r["n"] else f"{1 / r['total_s']:.3f} ops/s"
            parts.append(f"local[{c}] {r['total_s']:.3f} s {rate} rows={r['rows']}")
        eff = (runs[0]["total_s"] / runs[-1]["total_s"]) / (hi / lo)
        same = len({r["rows"] for r in runs}) == 1
        if not same:
            status = 1
        print(f"{op}: " + "; ".join(parts) + f"; efficiency {eff:.3f}"
              + ("" if same else "; ROWS DIFFER ACROSS LEVELS"))
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--queries", help='"all" or a comma list (default: bench.py HEADLINE)')
    src.add_argument("--inputs", choices=sorted(INPUTS), help="a generated input set")
    ap.add_argument("--rows", type=int, help="fact-side rows of the input set")
    ap.add_argument("--cpus", help="comma list of core counts, one fresh process each")
    ap.add_argument("--passes", type=int, default=1, help="timed passes per op (best kept)")
    ap.add_argument("--plans", metavar="DIR", help="write explain('formatted') per op here")
    args = ap.parse_args(argv)
    if args.rows and not args.inputs:
        ap.error("--rows sizes an --inputs set")
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    if args.cpus:
        return scale(args, [int(c) for c in args.cpus.split(",")])
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
