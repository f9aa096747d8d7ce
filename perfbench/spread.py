"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload append_stream --runs 10

Runs the benchmark ``--runs`` times, each with another seed, and prints
for every end-to-end metric its median and the distance between the
first and third quartile of the runs as a share of the median, next to
the metric's bound from BENCHMARK.json. It also prints each run's wall
time (set-up, measuring, checks and teardown), to budget a full pass.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        lines = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               check=True).stdout.strip().splitlines()
        walls.append(time.perf_counter() - t0)
        out = lines[-1]
        res = json.loads(out)
        if not res["correct"] or res["failed"]:
            print(f"seed {seed}: incorrect result {out}")
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} ({walls[-1]:.0f} s): " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for line in lines:
            if line.startswith(("# set-up walls", "# op walls",
                                "# op cpu steal")):
                print("    " + line, flush=True)
    for k, vs in values.items():
        s = spread(vs)
        b = bounds.get(k)
        print(f"{k:20s} median {statistics.median(vs):12.4f}  spread "
              f"{s:.4f}  bound {b}  {'ok' if b and s < b / 3 else 'WIDE'}")
    print(f"run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
