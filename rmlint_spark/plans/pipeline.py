"""End-to-end near-duplicate pipeline (SURVEY.md §3.1 Spark equivalent).

  files
   -> exact funnel                 (operators/exact.py;  R1/R2/J3)
   -> MinHash signatures + LSH     (operators/lsh.py;    layer A)
   -> SimHash Hamming candidates   (operators/simhash_op.py; layer B)
   -> union edge list -> connected components (cluster resolution)
   -> original ranking (W1) -> cluster output contract

Near-dup verification accepts estimated Jaccard >= (threshold -
verify_margin): the margin absorbs MinHash estimator noise around the
threshold (sd ~ sqrt(j(1-j)/num_perm) ~ 0.04 at 128 perms) so planted
pairs AT the threshold still clear the recall>=0.99 bar; exact-dup
edges (same sha256) are unioned in so exact recall is always 1.0.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.operators import exact as EX
from rmlint_spark.operators.connected_components import connected_components
from rmlint_spark.operators.lint import KEY
from rmlint_spark.operators.lsh import (
    candidate_pairs,
    jaccard_verify,
    row_index,
    with_combined_signatures,
)
from rmlint_spark.operators.rank import tag_originals
from rmlint_spark.operators.simhash_op import simhash_candidates

VERIFY_MARGIN = 0.10


@dataclass
class PipelineResult:
    exact_clusters: DataFrame     # funnel output (cluster contract)
    near_edges: DataFrame         # (fid_a, fid_b) union edge list
    near_clusters: DataFrame      # (repo,path,commit,fid,cluster_id,cluster_size,rank,is_original)
    oversized_buckets: DataFrame  # skew guard report (band/block buckets over cap)


def run_pipeline(
    files: DataFrame,
    cfg: EngineConfig = DEFAULT,
    use_simhash: bool = True,
    lineage_dir: str | None = None,
) -> PipelineResult:
    """``lineage_dir``: when set, the three relations that fully
    determine the near-dup clustering — the verified edge list, the
    (sha, rep fid, family size) table, and the file index — are
    materialized to parquet and the rest of the pipeline reads them
    back. This is the independent-verification hook (reference
    analog: tests/test_speed/verify.py re-hashes every reported
    group): an external checker (the DuckDB oracle) can recompute
    connected components + membership from the same bytes."""
    exact = EX.exact_clusters(files, cfg)

    # near-dup layer operates on content REPRESENTATIVES (one node per
    # distinct content — rmlint's J1 inode bundling, see lsh.py):
    # exact-dup families collapse to single LSH/SimHash nodes, so
    # identical-content families can never explode candidate buckets,
    # and no explicit exact-edge list is needed — members re-attach
    # via sha after clustering. Both signatures come from ONE content
    # scan (combined UDF); the cache holds only (keys, sig, simhash).
    # the file index feeds BOTH the representative election and the
    # member re-expansion below — pin it so the corpus sha256 pass and
    # its dedup shuffle run once per pipeline (round 6, guide §2.4)
    from rmlint_spark.operators.exact import _pin

    idx = _pin(row_index(files))
    sigs = with_combined_signatures(files, cfg, idx=idx).cache()
    relaxed = replace(cfg, jaccard_threshold=max(0.0, cfg.jaccard_threshold - VERIFY_MARGIN))
    if use_simhash:
        # the LSH band lane and the SimHash block lane are independent
        # jobs over the same cached signature relation, and each ends
        # in a blocking driver probe (the over-cap bucket collect) —
        # running them from two driver threads lets the second lane's
        # tasks back-fill the first lane's stragglers instead of
        # serializing behind its probe (guide §2.6; Spark's cache
        # locking computes each sigs partition once across the races)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        _itt = inheritable_thread_target(files.sparkSession)
        if _itt is files.sparkSession:
            # non-pinned py4j mode hands the session back instead of a
            # decorator; there the lanes need no thread wrapper
            def _itt(fn):
                return fn
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_mh = pool.submit(_itt(lambda: candidate_pairs(sigs, relaxed)))
            f_sh = pool.submit(_itt(lambda: simhash_candidates(sigs, cfg)))
            cand, over_mh = f_mh.result()
            sh_cand, over_sh = f_sh.result()
    else:
        cand, over_mh = candidate_pairs(sigs, relaxed)

    oversized = over_mh.select(F.lit("minhash_band").alias("kind"), F.col("width"))
    if use_simhash:
        # unified verification: SimHash candidates must clear the same
        # estimated-Jaccard bar (SimHash proximity alone is too weak on
        # short same-vocab docs — the pathological collision bucket).
        # Both lanes clear the SAME relaxed threshold, so the union is
        # deduplicated once and verified ONCE (round 6, guide §2.4):
        # the former per-lane verify ran the pin/prune/fetch-join
        # cascade twice and deduplicated the union again afterwards —
        # identical edge set, one verify stage and one exchange fewer.
        cand = cand.unionByName(sh_cand.select("fid_a", "fid_b"))
        oversized = oversized.union(
            over_sh.select(F.lit("simhash_block").alias("kind"), F.col("width"))
        )
    verified = jaccard_verify(
        cand.dropDuplicates(["fid_a", "fid_b"]), sigs, relaxed.jaccard_threshold
    )
    # narrow (fid_a, fid_b) relation referenced by CC, the result
    # object, and callers' counts — pin it so the band/verify joins
    # run once
    edges = _pin(verified.select("fid_a", "fid_b"))

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
    return PipelineResult(exact, edges, near, oversized)
