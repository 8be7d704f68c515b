"""Run one workload over several seeds and report each end-to-end metric's
median and spread (distance between the first and third quartile, as a
share of the median) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload crawl --seeds 1-10

Run from the root of a checkout. Each run is a fresh ``run.py`` process.
Exits 1 if any run fails its output checks or any spread exceeds a third
of its metric's bound, the margin that keeps two sets of runs of the same
code within the bound of each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    ok = True
    for seed in _seeds(a.seeds):
        cmd = bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        ok &= res["correct"]
        print(seed, res["correct"], {k: round(v["value"], 3) for k, v in res["metrics"].items()})
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        vals = values[m["name"]]
        spread = stats.iqr_share(vals)
        ok &= spread <= m["bound"] / 3
        print(
            f"{m['name']}: median {statistics.median(vals):.4g} {m['unit']}, "
            f"spread {spread:.3f} (limit {m['bound'] / 3:.3f}, bound {m['bound']})"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
