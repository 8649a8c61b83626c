"""End-to-end near-duplicate pipeline (SURVEY.md §3.1 Spark equivalent).

  files
   -> MinHash signatures            (operators/lsh.py, pinned)
   -> LSH bands + escalation + Jaccard verify -> verified edge list:
        local core  one bounded Arrow collect of (fid, sig, keys), then
                    numpy on the driver (lsh.local_near_edges), while
                    it fits under lsh.LOCAL_NEAR_BYTES
        distributed candidate_pairs -> jaccard_verify on the same
                    pinned signatures, past the budget
   -> connected components (cluster resolution)
   -> original ranking (W1) -> cluster output contract
  exact funnel (operators/exact.py; R1/R2/J3): built on first read of
  ``PipelineResult.exact_clusters``, never by the near-dup path

Near-dup verification accepts estimated Jaccard >= (threshold -
verify_margin): the margin absorbs MinHash estimator noise around the
threshold (sd ~ sqrt(j(1-j)/num_perm) ~ 0.04 at 128 perms) so planted
pairs AT the threshold still clear the recall>=0.99 bar; exact-dup
families collapse to one representative node and re-attach via sha,
so exact recall is always 1.0.

Both cores give the same edges and oversized-bucket report (tests:
test_local_near, test_escalation); ``PipelineResult.stats`` records
which ran and the numbers that decided it.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.operators import exact as EX
from rmlint_spark.operators.connected_components import connected_components
from rmlint_spark.operators.lint import KEY
from rmlint_spark.operators.lsh import (
    candidate_pairs,
    jaccard_verify,
    local_near_edges,
    row_index,
    with_signatures,
)
from rmlint_spark.operators.rank import tag_originals

VERIFY_MARGIN = 0.10


@dataclass
class PipelineResult:
    files: DataFrame
    cfg: EngineConfig
    near_edges: DataFrame         # (fid_a, fid_b) verified edge list
    near_clusters: DataFrame      # (repo,path,commit,fid,cluster_id,cluster_size,rank,is_original)
    oversized_buckets: DataFrame  # skew guard report (LSH band buckets over cap)
    # which near-dup core ran and the numbers that decided it
    # (keys: see ``run_pipeline``)
    stats: dict = field(default_factory=dict)

    @cached_property
    def exact_clusters(self) -> DataFrame:
        """Exact-funnel output (cluster contract), planned on first read:
        no near-dup consumer reads it, and planning it costs driver time."""
        return EX.exact_clusters(self.files, self.cfg)


def run_pipeline(
    files: DataFrame,
    cfg: EngineConfig = DEFAULT,
    lineage_dir: str | None = None,
) -> PipelineResult:
    """``lineage_dir``: when set, the three relations that fully
    determine the near-dup clustering — the verified edge list, the
    (sha, rep fid, family size) table, and the file index — are
    materialized to parquet and the rest of the pipeline reads them
    back. This is the independent-verification hook (reference
    analog: tests/test_speed/verify.py re-hashes every reported
    group): an external checker (the DuckDB oracle) can recompute
    connected components + membership from the same bytes.

    ``PipelineResult.stats``: ``near_core`` ("local" when
    ``lsh.local_near_edges`` fit its budget, else "distributed"), the
    numbers that decided it (``sig_rows_cap``, ``sig_rows`` — None past
    the cap — and ``candidate_bound``), and the escalation level
    reached (``lsh_level``), ``dropped_buckets`` and, on the local
    core, ``verified_edges``. All are values the run already holds: no
    Spark job is added for them."""
    # near-dup layer operates on content REPRESENTATIVES (one node per
    # distinct content — rmlint's J1 inode bundling, see lsh.py):
    # exact-dup families collapse to single LSH nodes, so
    # identical-content families can never explode candidate buckets,
    # and no explicit exact-edge list is needed — members re-attach
    # via sha after clustering. The cache holds only (keys, sig).
    # the file index feeds BOTH the representative election and the
    # member re-expansion below — pin it so the corpus sha256 pass and
    # its dedup shuffle run once per pipeline (round 6, guide §2.4)
    idx = EX._pin(row_index(files))
    sigs = EX._pin(with_signatures(files, cfg, idx=idx))
    relaxed = replace(cfg, jaccard_threshold=max(0.0, cfg.jaccard_threshold - VERIFY_MARGIN))
    stats: dict = {}
    local = local_near_edges(sigs, relaxed, stats)
    if local is not None:
        stats["near_core"] = "local"
        edges, over = local
    else:
        stats["near_core"] = "distributed"
        # candidate_pairs returns distinct (fid_a < fid_b) pairs
        cand, over = candidate_pairs(sigs, relaxed, stats)
        verified = jaccard_verify(cand, sigs, relaxed.jaccard_threshold)
        # narrow (fid_a, fid_b) relation referenced by CC, the result
        # object, and callers' counts — pin it so the band/verify joins
        # run once
        edges = EX._pin(verified.select("fid_a", "fid_b"))
    oversized = over.select(F.lit("minhash_band").alias("kind"), F.col("width"))

    reps = sigs.select("sha", "fid", "n_rows")
    if lineage_dir:
        spark = files.sparkSession
        edges.write.mode("overwrite").parquet(f"{lineage_dir}/edges")
        reps.write.mode("overwrite").parquet(f"{lineage_dir}/reps")
        idx.write.mode("overwrite").parquet(f"{lineage_dir}/index")
        edges = spark.read.parquet(f"{lineage_dir}/edges")
        reps = spark.read.parquet(f"{lineage_dir}/reps")
        idx = spark.read.parquet(f"{lineage_dir}/index")

    comp = connected_components(edges)
    # component per distinct content: CC label if the rep is in the
    # edge graph, else the rep itself when its exact family has >= 2
    # members (a pure exact-dup cluster), else null (unclustered)
    rep_comp = (
        reps
        .join(comp, "fid", "left")
        .select(
            "sha",
            F.coalesce(
                "component", F.when(F.col("n_rows") >= 2, F.col("fid"))
            ).alias("cluster_id"),
        )
        .filter(F.col("cluster_id").isNotNull())
    )
    members = idx.join(rep_comp, "sha", "inner")
    # cluster_size rides the same cluster_id window partitioning the
    # rank already needs — no separate size aggregation + re-join
    # exchange (round 6; same fusion as exact_clusters)
    from pyspark.sql import Window as W

    near = (
        tag_originals(members, cfg.rank_criteria)
        .withColumn("cluster_size", F.count("*").over(W.partitionBy("cluster_id")))
        .select(*KEY, "fid", "cluster_id", "cluster_size", "rank", "is_original")
    )
    return PipelineResult(files, cfg, edges, near, oversized, stats)
