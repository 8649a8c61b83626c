"""Plan-quality inspection: print formatted physical plans for the
hot operators and grep-able markers (PushedFilters, ReadSchema,
WholeStageCodegen, BroadcastHashJoin) so regressions in pushdown /
pruning / join strategy are visible.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def grab_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from rmlint_spark.config import EngineConfig, SignatureConfig
    from rmlint_spark.operators.exact import exact_clusters
    from rmlint_spark.operators.lsh import band_buckets, with_signatures
    from rmlint_spark.operators.treemerge import duplicate_dirs
    from rmlint_spark.session import get_spark
    from rmlint_spark.sources.tables import documents_as_files, load_table

    spark = get_spark("plan_inspect", cores=8, shuffle_partitions=8)
    cfg = EngineConfig(sig=SignatureConfig(prefix_len=4096))
    docs = load_table(spark, sf_dir, "documents")
    files = documents_as_files(docs)

    # 1. gen-0 metadata scan: content must NOT be in ReadSchema
    meta = files.select("repo", "path", F.length("content").alias("size"))
    gen0 = meta.groupBy("size").count().filter(F.col("count") >= 2)
    plan = grab_plan(gen0)
    print("=" * 30, "gen-0 size grouping")
    print(plan)
    print(">>> content pruned from scan:", "text" in plan and "ReadSchema" in plan)

    # 2. full funnel
    print("=" * 30, "exact funnel")
    print(grab_plan(exact_clusters(files, cfg)))

    # 2b. directory rollup: the collect_list rollup is derived once (it
    # feeds the pinned matched set) and maximality is an equi-join
    plan = grab_plan(duplicate_dirs(files, cfg))
    print("=" * 30, "duplicate dirs")
    print(plan)
    lines = plan.splitlines()
    print(">>> rollup collect_list aggregates (want 1):", sum(
        1 for ln in lines
        if ln.startswith("Functions") and re.search(r"(?<!partial_)collect_list\(", ln)
    ))
    print(">>> non-equi or nested-loop joins (want 0):", sum(
        1 for ln in lines
        if (ln.startswith("Join condition:") and ln != "Join condition: None")
        or "NestedLoopJoin" in ln or "CartesianProduct" in ln
    ))

    # 3. filter pushdown check
    filtered = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = grab_plan(filtered)
    print("=" * 30, "filter pushdown")
    print(plan)
    print(">>> PushedFilters present:", "PushedFilters: [" in plan)

    # 4. LSH band explode + bucket count
    sigs = with_signatures(files, cfg)
    print("=" * 30, "LSH band buckets")
    print(grab_plan(band_buckets(sigs, cfg).groupBy("band_id", "band_hash").count()))

    spark.stop()


if __name__ == "__main__":
    main()
