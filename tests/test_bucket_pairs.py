"""Round-6 optimization internals: gathered-bucket pair generation and
the CC changed-label convergence test.

The candidate lanes (LSH bands, SimHash blocks, substring windows) now
generate pairs by in-bucket array expansion over ONE collect_list
aggregation instead of a three-pass width-agg + anti-join + self-join;
connected_components detects its fixpoint with an exact changed-label
count instead of a before/after fingerprint pair. These tests pin the
semantics those rewrites must preserve.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rmlint_spark.config import EngineConfig, SignatureConfig


@pytest.fixture(scope="module")
def spark():
    from rmlint_spark.session import get_spark

    s = get_spark("test_bucket_pairs", cores=4, shuffle_partitions=4)
    yield s


def test_bucket_pairs_matches_join_semantics(spark):
    """_bucket_pairs(gathered buckets) must emit exactly the pairs the
    former two-sided equi-join produced: all fid_a < fid_b pairs per
    bucket, duplicates across buckets preserved until the caller
    dedups."""
    from rmlint_spark.operators.lsh import _bucket_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),       # bucket 1: 3 pairs
        (2, "b"), (2, "c"),                 # bucket 2: repeats (b, c)
        (3, "z"),                           # singleton: no pairs
    ]
    rel = spark.createDataFrame(rows, "bkt int, fid string")
    buckets = rel.groupBy("bkt").agg(F.collect_list("fid").alias("_members"))
    got = sorted(map(tuple, _bucket_pairs(buckets).collect()))
    assert got == [("a", "b"), ("a", "c"), ("b", "c"), ("b", "c")]

    # (fid, simhash) struct members, as SimHash gathers them: pairs
    # order by fid, not by the payload (which runs the other way here)
    sh = {"a": 30, "b": 20, "c": 10, "z": 0}
    rel = spark.createDataFrame(
        [(b, f, sh[f]) for b, f in rows], "bkt int, fid string, simhash long"
    )
    buckets = rel.groupBy("bkt").agg(
        F.collect_list(F.struct("fid", "simhash")).alias("_members")
    )
    got = sorted(
        map(
            tuple,
            _bucket_pairs(buckets)
            .select("fid_a.fid", "fid_a.simhash", "fid_b.fid", "fid_b.simhash")
            .collect(),
        )
    )
    assert got == [
        ("a", 30, "b", 20), ("a", 30, "c", 10), ("b", 20, "c", 10), ("b", 20, "c", 10)
    ]


def test_clone_pairs_tolerates_non_deduped_index(spark):
    """clone_pairs' array_distinct gather makes a raw (fid, whash)
    explode equivalent to the dropDuplicates'd index — per-doc repeat
    windows and path-doubled rows must not inflate widths or
    shared-window counts."""
    from rmlint_spark.operators.substring import clone_pairs

    cfg = EngineConfig(sig=SignatureConfig())
    dup_rows = [
        ("f1", 10), ("f1", 10), ("f2", 10),      # repeat window in f1
        ("f1", 11), ("f2", 11), ("f2", 11),
        ("f1", 12), ("f2", 12), ("f3", 12),
    ]
    raw = spark.createDataFrame(dup_rows, "fid string, whash long")
    clean = raw.dropDuplicates(["fid", "whash"])
    got_raw = sorted(map(tuple, clone_pairs(raw, cfg, min_shared=2)[0].collect()))
    got_clean = sorted(map(tuple, clone_pairs(clean, cfg, min_shared=2)[0].collect()))
    assert got_raw == got_clean == [("f1", "f2", 3)]


def test_clone_pairs_width_cap_counts_distinct_members(spark):
    from dataclasses import replace

    from rmlint_spark.operators.substring import clone_pairs

    cfg = replace(EngineConfig(), max_bucket_width=2)
    rows = [("f1", 5), ("f1", 5), ("f2", 5)]  # 2 distinct members: under cap
    raw = spark.createDataFrame(rows, "fid string, whash long")
    pairs, oversized = clone_pairs(raw, cfg, min_shared=1)
    assert oversized.count() == 0
    assert [tuple(r) for r in pairs.collect()] == [("f1", "f2", 1)]
    # 3 distinct members: over cap -> reported with the DISTINCT width
    rows3 = rows + [("f3", 5), ("f3", 5)]
    pairs3, over3 = clone_pairs(
        spark.createDataFrame(rows3, "fid string, whash long"), cfg, min_shared=1
    )
    assert pairs3.count() == 0
    assert [tuple(r) for r in over3.collect()] == [(5, 3)]


def test_cc_path_graph_converges_with_changed_count(spark):
    """A 10-node path needs many propagation rounds (plus pointer
    jumping) — the changed-label fixpoint test must stop exactly when
    labels stabilize and still produce min-label components."""
    from rmlint_spark.operators.connected_components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(100, 101)], "fid_a long, fid_b long"
    )
    stats: dict = {}
    # local_edge_cap=0 opts out of the round-6 union-find fast path:
    # this test pins the LOOP's changed-count convergence mechanics
    out = sorted(
        map(
            tuple,
            connected_components(edges, stats=stats, local_edge_cap=0).collect(),
        )
    )
    assert out == [(i, 0) for i in range(10)] + [(100, 100), (101, 100)]
    assert stats["iters_run"] >= 2  # path needs > 1 propagation round


def test_cc_single_edge_two_actions_worth_of_iterations(spark):
    """Dense 2-node components converge in one propagation round and
    one confirming round — the changed-count scheme must not add
    more."""
    from rmlint_spark.operators.connected_components import connected_components

    edges = spark.createDataFrame([(7, 3)], "fid_a long, fid_b long")
    stats: dict = {}
    # local_edge_cap=0 opts out of the round-6 union-find fast path
    # (loop-mechanics pin, as above)
    out = sorted(
        map(
            tuple,
            connected_components(edges, stats=stats, local_edge_cap=0).collect(),
        )
    )
    assert out == [(3, 3), (7, 3)]
    assert stats["iters_run"] == 2
