"""spark-submit entry point: full near-dup pipeline over a files
parquet corpus. Ships with --py-files rmlint_spark.zip (north-rule
packaging requirement).

Usage:
  spark-submit --master local[N] --py-files rmlint_spark.zip \
      scripts/pipeline_job.py <corpus_parquet_dir> [shuffle_partitions]

Prints one JSON line: wall seconds per stage + result counts.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    corpus_dir = sys.argv[1]
    shuffle = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    spark = (
        SparkSession.builder.appName("rmlint_spark_pipeline")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    import os

    from rmlint_spark.config import EngineConfig, SignatureConfig
    from rmlint_spark.plans.pipeline import run_pipeline

    # RMLINT_SPARK_ESCALATE: 1 or lsh (LSH bucket escalation, default)
    # / 0 (none) — A/B knob for isolating escalation cost on
    # pathological corpora
    esc = os.environ.get("RMLINT_SPARK_ESCALATE", "1")
    # RMLINT_SPARK_STOP_SHINGLES: df fraction for the stop-shingle
    # filter. Default 0.3 since round 5: measured on the planted
    # corpus (scripts/stop_shingle_ab.py, 4000 docs) it is a literal
    # no-op on a clean corpus (978 candidates and recall 1.0 at both
    # settings) and collapses a boilerplate-header pileup 617x
    # (604,427 -> 980 candidates) with signal recall 1.0 — see
    # BENCH/BASELINE.md "Stop-shingle decision (round 5)". Set 0 for
    # reference-exact signatures.
    # RMLINT_SPARK_FUSE_FUNNEL: 1 = one content pass for prefix sig +
    # full digest (output bit-identical to the two-pass funnel —
    # tests/test_exact.py::test_fused_single_pass_identical_output;
    # A/B at 400k rows in BENCH/BASELINE.md "Funnel fusion").
    cfg = EngineConfig(
        sig=SignatureConfig(
            prefix_len=4096,
            stop_shingle_df=float(os.environ.get("RMLINT_SPARK_STOP_SHINGLES", "0.3")),
            fuse_full_digest=os.environ.get("RMLINT_SPARK_FUSE_FUNNEL", "0") == "1",
        ),
        lsh_escalate_levels=8 if esc in ("1", "lsh") else 0,
    )
    files = spark.read.parquet(corpus_dir)
    n_files = files.count()

    # run_pipeline runs the LSH probes eagerly and plans the exact
    # funnel only on first read of res.exact_clusters, so each stage's
    # time covers its own work
    t0 = time.time()
    res = run_pipeline(files, cfg)
    n_near = res.near_clusters.count()
    n_edges = res.near_edges.count()
    t_near = time.time() - t0
    t1 = time.time()
    n_exact = res.exact_clusters.count()
    t_exact = time.time() - t1
    total = time.time() - t0

    print(
        json.dumps(
            {
                "n_files": n_files,
                "n_exact_rows": n_exact,
                "n_near_rows": n_near,
                "n_edges": n_edges,
                "exact_sec": round(t_exact, 2),
                "near_sec": round(t_near, 2),
                "total_sec": round(total, 2),
                "files_per_sec": round(n_files / total, 1),
                "cores": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": shuffle,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
