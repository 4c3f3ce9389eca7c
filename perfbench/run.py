"""hexgrid-spark benchmark: runs one workload as a closed loop from a single
client on ``local[<nproc>]`` and prints its metrics.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. A run

1. writes the seed's inputs under ``.bench_work/`` (the previous run's
   inputs are removed first, so one seed is resident at a time);
2. sets up ``N_SETUPS`` times (fresh SparkSession, inputs opened, tiling
   built, one warm-up op) and reports the median as ``setup_s``;
3. runs every op type once, untimed, and checks its output, which also
   fills the library's per-session caches;
4. runs passes over all op types, each pass in a seed-shuffled order,
   until ``--seconds`` have passed, timing every op.

With ``--trace 1`` the passes alternate between untraced and traced;
traced ops record spans and read Spark's status stores, and the run
reports per-layer metrics instead of end-to-end ones. Spans are written
to ``.bench_out/``. The last line of standard output is the result JSON.
"""

from __future__ import annotations

import argparse
import inspect
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
N_SETUPS = 3
MIN_FREE_BYTES = 2 << 30
PREFIX_ROUNDS = 3

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_s.p50": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.jvm_start_s": "s", "spatial.tiling_build_s": "s",
    "warmup_s": "s", "entry.build_s": "s", "entry.build_jobs": "count",
    "exec.action_s": "s", "exec.driver_gap_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.task_skew": "ratio", "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB", "spill.mb": "MB", "scan.mb": "MB", "scan.rows": "count",
    "join.candidate_rows": "count", "join.output_rows": "count", "join.useful_ratio": "ratio",
    "python.rows": "count", "agg.partial_rows": "count", "agg.output_rows": "count",
    "flagship.scan_s": "s", "flagship.encode_s": "s", "flagship.join_s": "s",
    "flagship.explode_s": "s", "flagship.agg_s": "s", "pipeline.build_s": "s",
    "pipeline.read_s": "s", "merge.upsert_s": "s", "iceberg_lite.bytes_written": "count",
    "iceberg_lite.files_written": "count", "iceberg_lite.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}
# per-op counters summed over op types (per pass); the rest are combined
# as noted where they are computed
_SUMMED = [
    "entry.build_s", "entry.build_jobs", "exec.action_s", "exec.driver_gap_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb",
    "shuffle.read_mb", "spill.mb", "scan.mb", "scan.rows", "python.rows", "agg.partial_rows",
    "agg.output_rows",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------ environment


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of the machine's memory, 1-8 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(8, total_kb // (4 << 20)))


def use_checkout() -> None:
    """Fail unless ROOT holds the library, then make it importable."""
    if not (
        os.path.isfile(os.path.join(ROOT, "hex2vec_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        fail(f"{ROOT} is not a hexgrid-spark checkout (no hex2vec_spark/ or __spark_entry__.py)")
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)


def prepare(run_dir: str) -> None:
    """Keep every file the run, Spark and the library write inside the
    checkout, and let Python workers import the repo."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if shutil.disk_usage(run_dir).free < MIN_FREE_BYTES:
        fail(f"less than {MIN_FREE_BYTES >> 30} GB free under {run_dir}")
    os.environ.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(n_cores()),
        SPARK_GRAFT_MEM=f"{driver_mem_gb()}g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    from hex2vec_spark.operators import spatial
    from hex2vec_spark.sources import synth

    for fn in (synth.images_cache_path, synth.images_table_cached, spatial.tiling_table):
        _set_default(fn, "base_dir", os.path.join(run_dir, "tmp"))


def _set_default(fn, param: str, value) -> None:
    """Point a library function's default cache directory at ``value``."""
    names = [
        p.name for p in inspect.signature(fn).parameters.values()
        if p.default is not p.empty and p.kind is p.POSITIONAL_OR_KEYWORD
    ]
    if param in names:
        defaults = list(fn.__defaults__)
        defaults[names.index(param)] = value
        fn.__defaults__ = tuple(defaults)


def start_session(run_dir: str):
    from hex2vec_spark.plans.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{n_cores()}]",
        extra={
            "spark.executorEnv.PYTHONPATH": ROOT,
            # replaces get_spark's value, whose direct-memory cap it keeps.
            # The heap is committed and touched up front (-Xms = -Xmx), so
            # peak RSS does not depend on when G1 chose to grow the heap.
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_mem_gb()}g -XX:+AlwaysPreTouch -XX:MaxDirectMemorySize=8g "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def drop_process_caches() -> None:
    """Forget the tiling the library memoizes per process, so every
    set-up polyfills again."""
    from hex2vec_spark.operators import spatial

    memo = getattr(spatial, "_TILING_MEMO", None)
    if memo is not None:
        memo.clear()


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from spans import _children

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)


# ------------------------------------------------------------- statistics


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, at percentile 100 * (n - 10) / n. Below 11
    samples the maximum is returned at percentile 100."""
    s = sorted(samples)
    if len(s) < 11:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# -------------------------------------------------------------------- run


class Runner:
    def __init__(self, run_dir: str, workload: str, seed: int, seconds: float, trace: bool,
                 plant_wrong: bool = False):
        import workloads
        from spans import Tracer

        self.run_dir = run_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.plant_wrong = plant_wrong
        self.tracer = Tracer(False)
        self.wl = workloads.WORKLOADS[workload](os.path.join(self.run_dir, "data"), seed, self.tracer)
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.check_s: dict[str, float] = {}

    # -- one op
    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, op) -> float:
        t0 = time.perf_counter()
        self._noop(op.build())
        return time.perf_counter() - t0

    def traced_op(self, op, probe, k: int) -> tuple[float, dict]:
        tr = self.tracer
        tr.op_id = f"{op.name}#{k}"
        first = len(tr.spans)
        probe.begin(op.name)
        with tr.span("op"):
            t0 = time.perf_counter()
            with tr.span("op.build"):
                df = op.build()
            t1 = time.perf_counter()
            probe.mark_action()
            a0 = time.time()
            with tr.span("exec.action"):
                self._noop(df)
            a1 = time.time()
            t3 = time.perf_counter()
        m = probe.end(a0, a1)
        m["entry.build_s"] = t1 - t0
        m["exec.action_s"] = a1 - a0
        for s in tr.spans[first:]:
            m[f"span:{s['name']}"] = m.get(f"span:{s['name']}", 0.0) + s["end"] - s["start"]
        return t3 - t0, m

    def _record_failure(self, name: str, reason: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {reason}")
        print(f"perfbench: {name} failed: {reason}", file=sys.stderr)

    # -- phases
    def setup(self) -> dict:
        """N_SETUPS fresh sessions, each opening inputs, building the
        tiling and running one warm-up op."""
        rec = {"setup": [], "session": [], "tiling": [], "warmup": []}
        for i in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
                drop_process_caches()
            t0 = time.perf_counter()
            self.spark = start_session(self.run_dir)
            t1 = time.perf_counter()
            self.wl.open(self.spark)
            t2 = time.perf_counter()
            self.run_op(self.wl.ops[0])
            t3 = time.perf_counter()
            rec["setup"].append(t3 - t0)
            rec["session"].append(t1 - t0)
            rec["tiling"].append(self.wl.tiling_s)
            rec["warmup"].append(t3 - t2)
        return rec

    def plant(self) -> None:
        """Self-test hook: make the first op drop its first output row."""
        op = self.wl.ops[0]
        build = op.build

        def wrong():
            df = build()
            return df.exceptAll(df.limit(1))

        op.build = wrong

    def check_all(self) -> dict[str, int]:
        rows = {}
        for op in self.wl.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                reason, rows[op.name] = op.check(op.build())
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                reason = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            if reason:
                self._record_failure(op.name, "wrong output: " + reason)
            self.check_s[op.name] = time.perf_counter() - t0
        return rows

    def timed(self) -> dict:
        from spans import RssSampler, StatusProbe

        ops = self.wl.ops
        order = random.Random(self.seed)
        plain = {op.name: [] for op in ops}
        traced = {op.name: [] for op in ops}
        layer = {op.name: [] for op in ops}
        probe = StatusProbe(self.spark) if self.trace else None
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        n_pass = 0
        with RssSampler(jvm_pid) as rss:
            start = time.perf_counter()
            while True:
                traced_pass = self.trace and n_pass % 2 == 1
                self.tracer.enabled = traced_pass
                for op in order.sample(ops, len(ops)):
                    self.attempted += 1
                    try:
                        if traced_pass:
                            dt, m = self.traced_op(op, probe, n_pass)
                            traced[op.name].append(dt)
                            layer[op.name].append(m)
                        else:
                            plain[op.name].append(self.run_op(op))
                    except Exception as e:  # noqa: BLE001
                        self._record_failure(op.name, f"{type(e).__name__}: {str(e)[:300]}")
                n_pass += 1
                wall = time.perf_counter() - start
                if wall >= self.seconds and (n_pass >= 2 or not self.trace):
                    break
        self.tracer.enabled = False
        return {"plain": plain, "traced": traced, "layer": layer, "wall": wall,
                "passes": n_pass, "peak_rss_mb": rss.peak_mb,
                "peak_jvm_mb": rss.peak_jvm_mb, "peak_workers_mb": rss.peak_workers_mb}

    def prefixes(self) -> dict[str, float]:
        times: dict[str, list[float]] = {}
        for _ in range(PREFIX_ROUNDS):
            for name, fn in self.wl.prefixes():
                t0 = time.perf_counter()
                self._noop(fn())
                times.setdefault(name, []).append(time.perf_counter() - t0)
        return {k: statistics.median(v) for k, v in times.items()}

    # -- metrics
    def end_to_end(self, setup: dict, t: dict) -> dict:
        plain = {k: v for k, v in t["plain"].items() if v}
        return {
            "setup_s": statistics.median(setup["setup"]),
            "ops_per_s": sum(map(len, plain.values())) / t["wall"],
            "latency_s.p50": geomean([statistics.median(v) for v in plain.values()]),
            "peak_rss_mb": t["peak_rss_mb"],
        }

    def per_layer(self, setup: dict, t: dict, rows: dict, prefix: dict) -> dict:
        med = statistics.median
        out = {k: 0.0 for k in PER_LAYER}
        out["session.start_s"] = med(setup["session"][1:])
        out["session.jvm_start_s"] = setup["session"][0]
        out["spatial.tiling_build_s"] = med(setup["tiling"])
        out["warmup_s"] = med(setup["warmup"])
        overhead = 0.0
        pair_ops = {op.name for op in self.wl.ops if op.pair_join}
        for name, ms in t["layer"].items():
            if not ms:
                continue
            for k in _SUMMED:
                out[k] += med(m[k] for m in ms)
            out["exec.task_skew"] = max(out["exec.task_skew"], med(m["exec.task_skew"] for m in ms))
            if name in pair_ops:
                out["join.candidate_rows"] += med(m["join.candidate_rows"] for m in ms)
                out["join.output_rows"] += rows.get(name, 0)
            if t["plain"][name]:
                overhead += med(t["traced"][name]) - med(t["plain"][name])
            if name == "dataset_build":
                out["pipeline.build_s"] = med(m["span:plans.pipeline.build_dataset"] for m in ms)
                out["merge.upsert_s"] = med(m["span:operators.merge.merge_table"] for m in ms)
                out["pipeline.read_s"] = med(
                    m["span:plans.pipeline.load_processed"] + m["span:exec.action"] for m in ms
                )
        if out["join.candidate_rows"]:
            out["join.useful_ratio"] = out["join.output_rows"] / out["join.candidate_rows"]
        out["trace.overhead_s"] = overhead
        if prefix:
            prev = 0.0
            for name in ("scan", "encode", "join", "explode", "agg"):
                out[f"flagship.{name}_s"] = prefix[name] - prev
                prev = prefix[name]
        written = self.wl.written() if hasattr(self.wl, "written") else []
        if written:
            out["iceberg_lite.bytes_written"] = med(b for b, _ in written)
            out["iceberg_lite.files_written"] = med(f for _, f in written)
            out["iceberg_lite.stored_bytes_per_input_byte"] = (
                out["iceberg_lite.bytes_written"] / self.wl.input_bytes()
            )
        return out

    def run(self) -> dict:
        phase = {}
        last = time.perf_counter()

        def lap(name: str) -> None:
            nonlocal last
            now = time.perf_counter()
            phase[name], last = now - last, now

        self.wl.generate()
        lap("inputs")
        setup = self.setup()
        lap("setup")
        if self.plant_wrong:
            self.plant()
        rows = self.check_all()
        lap("check")
        t = self.timed()
        lap("timed")
        prefix = self.prefixes() if self.trace and hasattr(self.wl, "prefixes") else {}
        lap("prefix")
        if self.trace:
            self.tracer.write(os.path.join(OUT, f"spans-{self.wl.name}-s{self.seed}.jsonl"))
        e2e = self.end_to_end(setup, t)
        tail_s, tail_p = tail([x for v in t["plain"].values() for x in v])
        info = {
            "workload": self.wl.name, "seed": self.seed, "cores": n_cores(),
            "master": f"local[{n_cores()}]", "trace": int(self.trace),
            "sf": self.wl.sf, "rows": self.wl.rows,
            "passes": t["passes"], "timed_s": round(t["wall"], 3),
            "samples": {k: len(v) for k, v in t["plain"].items()},
            "traced_samples": {k: len(v) for k, v in t["traced"].items()} if self.trace else {},
            "latency_s.tail": tail_s, "tail_percentile": round(tail_p, 1),
            "latency_s.p50_by_op": {
                k: statistics.median(v) for k, v in t["plain"].items() if v
            },
            "latency_s.samples": {k: [round(x, 3) for x in v] for k, v in t["plain"].items()},
            "error_rate": self.failed / self.attempted,
            "phase_s": {k: round(v, 2) for k, v in phase.items()},
            "peak_jvm_mb": round(t["peak_jvm_mb"], 1),
            "peak_workers_mb": round(t["peak_workers_mb"], 1),
            "setups_s": [round(x, 3) for x in setup["setup"]],
            "output_rows": rows,
            "check_s": {k: round(v, 2) for k, v in self.check_s.items()},
        }
        if self.wl.rows:
            info["images_per_s"] = self.wl.rows / e2e["latency_s.p50"]
        if self.trace:
            info["span_self_s"] = {k: round(v, 4) for k, v in self.tracer.self_times().items()}
            values, units = self.per_layer(setup, t, rows, prefix), PER_LAYER
            if prefix:
                full = statistics.median(t["plain"]["flagship"])
                info["flagship_prefix_vs_pass"] = prefix["agg"] / full - 1.0
        else:
            values, units = e2e, END_TO_END
        return {
            "info": info,
            "errors": self.errors,
            "result": {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            },
        }

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 plant_wrong: bool = False) -> dict:
    run_dir = os.path.join(WORK, f"{workload}-s{seed}")
    prepare(run_dir)
    runner = Runner(run_dir, workload, seed, seconds, trace, plant_wrong)
    try:
        return runner.run()
    finally:
        runner.close()
        # the JVM keeps this run's temp dir as java.io.tmpdir
        stop_jvm()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["flagship", "pair_joins"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="smoke-test the benchmark itself on tiny inputs")
    args = ap.parse_args(argv)
    if args.workload is None and not args.selftest:
        ap.error("--workload is required")
    use_checkout()
    try:
        if args.selftest:
            import selftest

            return selftest.main(run_workload, END_TO_END, PER_LAYER)
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out["info"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
