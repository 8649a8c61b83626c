"""The driver-local near-dup core (``lsh.local_near_edges``) against
its distributed twin, the ``candidate_pairs`` -> ``jaccard_verify``
chain: ``run_pipeline`` must give the same edges, clusters and
oversized-bucket report on either path. Setting ``LOCAL_NEAR_BYTES`` to
0 forces the twin."""

from __future__ import annotations

from rmlint_spark.config import EngineConfig, SignatureConfig
from rmlint_spark.operators import lsh
from rmlint_spark.operators.exact import bounded_arrow, pin_scope
from rmlint_spark.plans.pipeline import run_pipeline

CFG = EngineConfig(sig=SignatureConfig(prefix_len=64), jaccard_threshold=0.7)

# Spark jobs of one warm ``run_pipeline`` pass over the conftest corpus,
# measured with the local core; the distributed chain needs 20+
PIPELINE_JOBS = 12


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _outputs(spark, files):
    """(edges, clusters, oversized) rows and stats of one pipeline run."""
    with pin_scope(spark):
        res = run_pipeline(files, CFG)
        out = tuple(
            _rows(df) for df in (res.near_edges, res.near_clusters, res.oversized_buckets)
        )
    return out, res.stats


def _files(spark, texts):
    rows = [("r", f"{i:03d}.txt", "c", "txt", t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])


def test_bounded_arrow_cap_is_inclusive(spark):
    df = spark.range(3)
    assert bounded_arrow(df, 3).num_rows == 3
    assert bounded_arrow(df, 2) is None


def test_pipeline_local_core_matches_distributed(spark, corpus, monkeypatch):
    files, _ = corpus
    local, stats = _outputs(spark, files)
    assert stats["near_core"] == "local"
    assert stats["verified_edges"] == len(local[0]) > 0
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 0)
    dist, stats = _outputs(spark, files)
    assert stats["near_core"] == "distributed"
    assert dist == local


def test_token_free_corpus_local_matches_distributed(spark, monkeypatch):
    """Sentinel signatures are never banded on either path; the
    identical token-free pair still clusters through its sha."""
    files = _files(spark, ("   \n", "\t\t\n\n", " ", "\n\n", "\n\n"))
    local, stats = _outputs(spark, files)
    assert stats["near_core"] == "local" and stats["sig_rows"] == 0
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 0)
    assert _outputs(spark, files)[0] == local
    assert local[0] == [] and len(local[1]) == 2


def test_pipeline_declines_just_under_candidate_bound(spark, monkeypatch):
    """Forty near-copies share most band buckets, so their candidate
    bound (16 B a pair) outgrows their collected rows. A budget of
    exactly the bound keeps the local core; one byte less declines to
    the distributed chain, which gives the same outputs."""
    base = " ".join(f"tok{i}" for i in range(200))
    files = _files(spark, [f"{base} unique{i}" for i in range(40)])
    local, stats = _outputs(spark, files)
    bound = stats["candidate_bound"]
    assert stats["near_core"] == "local" and bound > 0 and local[0]
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 16 * bound)
    at_cap, stats = _outputs(spark, files)
    assert stats["near_core"] == "local" and at_cap == local
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 16 * bound - 1)
    under, stats = _outputs(spark, files)
    assert stats["near_core"] == "distributed"
    assert stats["sig_rows"] == 40 and stats["candidate_bound"] == bound
    assert under == local


def test_pipeline_job_floor(spark, corpus):
    """A warm pass over the conftest corpus runs the local core and at
    most ``PIPELINE_JOBS`` + 2 Spark jobs (the chain of per-level
    gathers, over-cap probes, verify joins and counts ran 20+)."""
    files, _ = corpus
    sc = spark.sparkContext
    _outputs(spark, files)
    group = "pipeline_job_floor"
    sc.setJobGroup(group, group)
    try:
        with pin_scope(spark):
            res = run_pipeline(files, CFG)
            res.near_clusters.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res.stats["near_core"] == "local"
    assert jobs <= PIPELINE_JOBS + 2, jobs
