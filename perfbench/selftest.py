"""Self-test of the benchmark on tiny inputs (``run.py --selftest``).

Checks that

* every end-to-end metric (untraced run) and every per-layer metric
  (traced run) is emitted, with its unit, for each workload, and every
  op's output passes its check;
* a planted wrong result (the first op drops one output row) is caught
  and raises ``error_rate``;
* in the traced flagship run the prefix increments (scan / encode / join
  / explode / agg) sum to the full pass within ``PREFIX_BOUND``.
"""

from __future__ import annotations

import json

import workloads

SEED = 7
SECONDS = 2.0
# the benchmark's bound on latency_s.p50, as a share of the full pass
PREFIX_BOUND = 0.25


def _shrink() -> None:
    workloads.FLAGSHIP_ROWS = 20_000
    workloads.PAIR_SF = 0.001
    workloads.PHASH_ROWS = 300
    workloads.DATASET_ROWS = 2_000


def main(run_workload, end_to_end: dict, per_layer: dict) -> int:
    _shrink()
    problems: list[str] = []
    for wl in workloads.WORKLOADS:
        for trace in (False, True):
            out = run_workload(wl, SEED, SECONDS, trace)
            res, info = out["result"], out["info"]
            want = per_layer if trace else end_to_end
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={int(trace)}: metrics {got} != {want}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={int(trace)}: failures {out['errors']}")
            if trace and wl == "flagship":
                off = info["flagship_prefix_vs_pass"]
                if abs(off) > PREFIX_BOUND:
                    problems.append(f"flagship prefixes sum to the pass {off:+.0%} off")
            print(json.dumps({"workload": wl, "trace": int(trace), **res}))
    planted = run_workload("flagship", SEED, SECONDS, False, plant_wrong=True)
    if planted["result"]["correct"] or planted["info"]["error_rate"] <= 0:
        problems.append("a planted wrong result was not detected")
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0
