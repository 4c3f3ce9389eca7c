"""pip_join at data scale: N hash-placed points vs P irregular convex
polygons (NOT the synth rectangles — axis-aligned bboxes would make the
ray-cast verify trivially selective), at two parallelism levels.

Run:  python BENCH/pip_bench.py [n_points] [n_polys]
Prints one JSON line; numbers quoted in BENCH/GEOJOIN.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, sys, time
import numpy as np, pandas as pd
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from hex2vec_spark.plans.session import get_spark
from hex2vec_spark.operators.geo_join import pip_join

cpus = int(sys.argv[1]); n = int(sys.argv[2]); npoly = int(sys.argv[3])
spark = get_spark("pip-bench", master=f"local[{{cpus}}]", shuffle_partitions=32)

def u(col, salt):
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000_007)).cast("double")
            / F.lit(1_000_000_007.0))

pts = spark.range(n).select(
    F.col("id"),
    (F.lit(40.0) + u(F.col("id"), 7) * 2.0).alias("lat"),
    (F.lit(14.0) + u(F.col("id"), 11) * 3.0).alias("lng"),
).localCheckpoint()

def gen(batches):
    # irregular convex polygons, rng seeded per id -> identical at every
    # partitioning
    for pdf in batches:
        rows = []
        for i in pdf["id"].to_numpy():
            rng = np.random.default_rng(int(i) + 1)
            cy, cx = 40.0 + rng.uniform(0, 2), 14.0 + rng.uniform(0, 3)
            k = int(rng.integers(4, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            r = rng.uniform(0.005, 0.02, k)
            rows.append({{
                "obj_id": "p%07d" % int(i),
                "ring_lat": (cy + r * np.sin(ang)).tolist(),
                "ring_lng": (cx + r * np.cos(ang)).tolist(),
            }})
        yield pd.DataFrame(rows)

polys = spark.range(npoly).mapInPandas(
    gen, "obj_id string, ring_lat array<double>, ring_lng array<double>"
).localCheckpoint()

pairs = pip_join(pts, polys, cell_deg=0.05).count()   # warmup (JIT)
best = None
for _ in range(3):
    t0 = time.time()
    pip_join(pts, polys, cell_deg=0.05).count()
    el = time.time() - t0
    best = el if best is None else min(best, el)
print(json.dumps({{"cpus": cpus, "seconds": best, "pairs": pairs}}))
spark.stop()
"""


def run_level(cpus: int, n: int, npoly: int) -> dict:
    code = RUNNER.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n), str(npoly)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    npoly = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    res = {}
    for cpus in (8, 32):
        r = run_level(cpus, n, npoly)
        r["points_per_sec"] = round(n / r["seconds"], 1)
        res[f"local[{cpus}]"] = r
        print(json.dumps(r), file=sys.stderr)
    eff = (res["local[8]"]["seconds"] / res["local[32]"]["seconds"]) / 4.0
    print(json.dumps({"n": n, "n_polys": npoly, "levels": res, "efficiency_8_32": round(eff, 3)}))


if __name__ == "__main__":
    main()
