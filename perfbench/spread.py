"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 101-110 [--workloads neardup,exact_bulk]
    python3 perfbench/spread.py --seeds 7 --repeat 5

Run from the root of a checkout. Runs the benchmark ``--repeat`` times
(default once) per seed and workload, one run at a time, untraced, so
the cross-seed spread and the same-seed repeat spread are measured the
same way. Then it prints per workload the mean wall time of a run and,
per metric, the median and the quartile spread ``(q3 - q1) / median`` (as
``statistics.quantiles(values, n=4)`` gives the quartiles) next to the
metric's bound from BENCHMARK.json and a third of it. Each run's result
line is appended to ``.perfbench_out/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--repeat", type=int, default=1, help="runs per seed")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    log = os.path.join(".perfbench_out", "spread.jsonl")
    os.makedirs(".perfbench_out", exist_ok=True)
    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    walls: dict[str, list[float]] = {w: [] for w in names}
    ok = True
    for w in names:
        for seed in [s for s in _seeds(args.seeds) for _ in range(args.repeat)]:
            t = time.time()
            done = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True,
            )
            wall = time.time() - t
            walls[w].append(wall)
            res = json.loads(done.stdout.strip().splitlines()[-1]) if done.stdout.strip() else None
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "rc": done.returncode,
                                    "wall_s": wall, "result": res}) + "\n")
            if done.returncode != 0 or not res or not res["correct"]:
                ok = False
                print(f"{w} seed {seed}: exit {done.returncode} {res}", flush=True)
                continue
            for k, v in res["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.0f} s", flush=True)
    for w in names:
        print(f"\n{w}: {len(walls[w])} runs, mean wall {statistics.mean(walls[w]):.1f} s")
        for m in spec["end_to_end"]:
            xs = values[w].get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / med if med else float("inf")
            flag = "" if share < m["bound"] / 3 else "  <-- above a third of the bound"
            print(f"  {m['name']:16s} median {med:12.4f} spread {share:7.4f} "
                  f"bound {m['bound']:.3f} (third {m['bound'] / 3:.4f}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
