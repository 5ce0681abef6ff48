"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload trickle_mor --seeds 1-10

Runs run.py once per seed (untraced) and prints, per metric, the median
and the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to
a third of the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if p.returncode != 0 or not res["correct"]:
            print(f"seed {seed}: exit {p.returncode}, correct={res['correct']}")
            return 1
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        wall = next((ln.rsplit(" ", 2)[-2] for ln in p.stdout.splitlines() if "process wall" in ln), "?")
        steal = re.search(r"([\d.]+%) CPU steal", p.stdout)
        print(f"seed {seed} ({wall} s, steal {steal[1] if steal else '?'}): "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>16}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f}"
              f" (bound/3 {m['bound'] / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
