"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload nightly_etl --seeds 1-10

Runs ``perfbench/run.py`` once per seed (sequentially, from the checkout
root) and prints, per end-to-end metric, the median and the
interquartile range as a share of the median, next to the metric's
bound from BENCHMARK.json. A metric is steady when that share stays
below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        if not res["correct"]:
            print(f"seed {seed}: INCORRECT {res}", file=sys.stderr)
            return 1
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        shown = ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s run, {shown}", flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>12}: median {med:.4g} {m['unit']}, IQR/median {(q3 - q1) / med:.3f}"
              f" (bound {m['bound']}, steady below {m['bound'] / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
