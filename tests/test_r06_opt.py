"""Round-6 optimization equivalence pins.

The two adaptive fast paths added this round must be RESULT-IDENTICAL
to the scale paths they bypass, at any corpus size:

- ``brute_force_topk_blas`` broadcast self-join vs the distributed
  block self-join (same (id, neighbor, rk) triples; cos_sim may differ
  at ULP level between dgemm shapes, which is why the declared query
  is rows-only);
- ``connected_components`` driver-side union-find vs the iterative
  min-propagation loop (identical min-label components).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rmlint_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_r06_opt", cores=4)


def test_ann_broadcast_matches_block_self_join(spark):
    from rmlint_spark.operators.ann import brute_force_topk_blas

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)]

    def triples(df):
        return {(r["vec_id"], r["neighbor_id"], r["rk"]) for r in df.collect()}

    # a null vector has no cosine and drops out of both paths, also as
    # the first row, which the broadcast path's dimension probe reads
    for data in (rows, [(-1, None)] + rows):
        emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
        bcast = triples(brute_force_topk_blas(emb, k=4))
        # a 1-byte budget sends the corpus to the block self-join
        block = triples(brute_force_topk_blas(emb, k=4, broadcast_bytes=1))
        assert bcast == block
        assert len(bcast) == 300 * 4


def test_ann_broadcast_over_cap_falls_back(spark):
    """A corpus over the broadcast budget must take the block path
    (still correct) — exercised by shrinking the budget to ~1 row."""
    from rmlint_spark.operators.ann import brute_force_topk_blas

    rng = np.random.RandomState(12)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk_blas(emb, k=3, broadcast_bytes=64)
    assert out.count() == 50 * 3


def test_cc_local_matches_loop(spark):
    from rmlint_spark.operators.connected_components import connected_components

    rng = np.random.RandomState(7)
    # random graph: chains, islands, a dense blob
    edges = [(int(a), int(a + 1)) for a in range(0, 40, 2)]
    edges += [(int(rng.randint(100, 140)), int(rng.randint(100, 140))) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    # null endpoints: both paths drop the edge, and a node whose only
    # edges were null ones (3, 4) is in no component
    null_edges = [(1, 2), (2, None), (None, 3), (4, None), (None, None), (5, 6)]
    for rows, want in ((edges, None),
                       (null_edges, {(1, 1), (2, 1), (5, 5), (6, 5)})):
        df = spark.createDataFrame(rows, "fid_a long, fid_b long")
        local = {
            (r["fid"], r["component"])
            for r in connected_components(df).collect()
        }
        # explicit max_iter opts into the iterative loop path
        loop = {
            (r["fid"], r["component"])
            for r in connected_components(df, max_iter=25).collect()
        }
        assert local == loop
        assert want is None or local == want


def test_cc_local_cap_zero_disables(spark):
    from rmlint_spark.operators.connected_components import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3)], "fid_a long, fid_b long")
    out = {
        (r["fid"], r["component"])
        for r in connected_components(df, local_edge_cap=0).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1)}


def test_cc_local_string_ids(spark):
    """String fids (the pipeline's 128-bit hex keys) label by
    lexicographic minimum on both paths."""
    from rmlint_spark.operators.connected_components import connected_components

    df = spark.createDataFrame(
        [("bb", "aa"), ("bb", "cc"), ("zz", "yy")], "fid_a string, fid_b string"
    )
    local = {
        (r["fid"], r["component"]) for r in connected_components(df).collect()
    }
    assert local == {
        ("aa", "aa"), ("bb", "aa"), ("cc", "aa"), ("yy", "yy"), ("zz", "yy")
    }
