"""Benchmark entry point.

    python3 perfbench/run.py --workload neardup --seed 7 --seconds 25 --trace 0

Generates the workload's input from the seed, runs the engine's public
entry points on it at local[<cores>], checks the outputs against the
independent oracles, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full
run record (samples, spans, host diagnostics, scores) is written to
``.perfbench_out/runs/`` in the checkout. Everything the run writes
stays under ``.perfbench_out/``.

Run from the root of a checkout: the engine package ``rmlint_spark`` is
imported from the current directory, and the run exits non-zero without
a result when it is absent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench_out")


def _prepare_env() -> None:
    """Point every writer (Python tempfiles, the py4j handshake, Spark's
    local directories, the Python workers' import path) into the checkout."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    # the launcher JVM that spark-submit starts first: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _stop_spark() -> None:
    """Stop the session, then end the JVM the session launched and wait
    for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rmlint_spark")):
        print("perfbench: no rmlint_spark package in the current directory", file=sys.stderr)
        return 2
    _prepare_env()

    from perfbench import metrics, trace
    from perfbench.workloads import SIZES, run

    if args.workload not in SIZES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SIZES)}", file=sys.stderr)
        return 2
    host = {"bw_mbs_before": trace.bw_probe_mbs(), "loadavg_before": trace.loadavg(),
            **trace.source_fingerprint(ROOT)}
    ticks = trace.cpu_ticks()
    try:
        rec = run(args.workload, args.seed, args.seconds, bool(args.trace), OUT, SIZES[args.workload])
    finally:
        _stop_spark()
    host.update(bw_mbs_after=trace.bw_probe_mbs(), loadavg_after=trace.loadavg(),
                cpu_ticks={k: v - ticks[k] for k, v in trace.cpu_ticks().items()})
    rec["host"] = host
    result = metrics.result(rec)
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "runs", name), "w") as f:
        json.dump({**rec, "result": result}, f, indent=1, default=str)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
