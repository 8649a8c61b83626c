"""The benchmark's own checks.

    python3 perfbench/selfcheck.py

Run from the root of a checkout. Checks, in order:

1. the same seed gives byte-identical input files, and another seed
   gives different contents with the same scenario proportions;
2. a tiny-size smoke run of each workload, untraced and traced, prints
   every metric BENCHMARK.json names, with its unit, and passes;
3. a run whose oracle is made to expect a pair the engine cannot emit
   exits non-zero with ``correct: false``;
4. in a directory holding only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.

Exits non-zero on the first failed check. Takes a few minutes (each
smoke run starts its own Spark session).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
WORKDIR = os.path.join(ROOT, ".perfbench_out", "selfcheck")

# runs the CLI with the tiny sizes, optionally with a broken oracle
_SMOKE = """
import sys
from perfbench import oracle, workloads
workloads.SIZES = workloads.TINY
if {broken}:
    real = oracle.Truth.exact_pairs
    fake = (("no-repo", "a", "0"), ("no-repo", "b", "0"))
    oracle.Truth.exact_pairs = lambda self, keys=None: real(self, keys) | {{fake}}
from perfbench import run
sys.exit(run.main({argv!r}))
"""


def check_inputs() -> None:
    from perfbench import workloads

    size = workloads.TINY["neardup"]
    dirs = []
    for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
        out = os.path.join(WORKDIR, f"input-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        workloads.generate(seed, size, out)
        dirs.append(out)
    same = _all_files(dirs[0]) == _all_files(dirs[1]) and all(
        filecmp.cmp(os.path.join(dirs[0], f), os.path.join(dirs[1], f), shallow=False)
        for f in _all_files(dirs[0])
    )
    assert same, "same seed gave different input files"

    import pyarrow.parquet as pq

    a = pq.read_table(os.path.join(dirs[0], "truth.parquet")).column("scenario").to_pylist()
    c = pq.read_table(os.path.join(dirs[2], "truth.parquet")).column("scenario").to_pylist()
    assert Counter(a) == Counter(c), "scenario proportions moved with the seed"
    ta = set(pq.read_table(os.path.join(dirs[0], "files")).column("content").to_pylist())
    tc = set(pq.read_table(os.path.join(dirs[2], "files")).column("content").to_pylist())
    shared = len(ta & tc - {""})
    assert shared < 0.01 * len(ta), f"seeds 11 and 12 share {shared} of {len(ta)} texts"
    print("ok  inputs: same seed byte-identical, new seed new texts, same scenario mix")


def _all_files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs
    )


def _smoke(workload: str, trace: int, broken: bool = False) -> tuple[int, dict | None]:
    argv = ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    done = subprocess.run(
        [sys.executable, "-c", _SMOKE.format(broken=broken, argv=argv)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = done.stdout.strip().splitlines()
    try:
        return done.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return done.returncode, None


def check_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = _smoke(w["name"], trace)
            assert code == 0 and res and res["correct"], f"{w['name']} trace={trace}: {code} {res}"
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {got} != {want}"
            print(f"ok  smoke {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations")


def check_broken_oracle() -> None:
    code, res = _smoke("exact_bulk", 0, broken=True)
    assert code != 0 and res is not None and not res["correct"] and res["failed"] >= 1, (code, res)
    print("ok  a failing oracle gives correct=false and exit code", code)


def check_bare_directory() -> None:
    bare = os.path.join(WORKDIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "neardup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert done.returncode != 0 and '"metrics"' not in done.stdout, done
    print("ok  without the engine the command exits", done.returncode, "and prints no result")


def main() -> int:
    os.makedirs(WORKDIR, exist_ok=True)
    check_inputs()
    check_bare_directory()
    check_smoke()
    check_broken_oracle()
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
