"""Oversized-bucket escalation (SURVEY §7.4).

Reference precedent: shredder generations split still-colliding groups
with a cheap longer read instead of giving up (lib/shredder.c:47-60).
The near-dup analog: members of an over-cap LSH band bucket re-bucket
on a doubled signature slice per level; over-cap SimHash block buckets
re-bucket on two-block agreement. These tests plant pathological
buckets whose true pairs are ONLY recoverable through escalation —
before this round, both operators report-and-dropped them.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from rmlint_spark.config import EngineConfig, SignatureConfig
from rmlint_spark.operators import lsh

# small signature space so planted buckets are easy to reason about:
# num_perm=16, 4 bands x 4 rows; LSH cap 3
LSH_CFG = EngineConfig(
    sig=SignatureConfig(num_perm=16, bands=4),
    max_bucket_width=3,
)


def _lsh_sigs(spark):
    """Band0 bucket {A,B,N1..N4} and band1 bucket {A,B,M1..M4} are both
    width 6 > cap 3. Only A,B share the first TWO bands (the level-1
    slice); every other band value is unique, so no level-0 pair
    exists anywhere."""
    S0, S1 = [1, 2, 3, 4], [5, 6, 7, 8]

    def uniq(base, n):
        return [base + i for i in range(n)]

    rows = []
    rows.append(("A", S0 + S1 + uniq(1000, 8)))
    rows.append(("B", S0 + S1 + uniq(2000, 8)))
    for i in range(4):  # share band0 only
        rows.append((f"N{i}", S0 + uniq(3000 + 100 * i, 12)))
    for i in range(4):  # share band1 only
        rows.append((f"M{i}", uniq(4000 + 100 * i, 4) + S1 + uniq(5000 + 100 * i, 8)))
    return spark.createDataFrame(rows, ["fid", "sig"])


def test_lsh_escalation_recovers_pairs_in_oversized_bucket(spark):
    from rmlint_spark.operators.lsh import candidate_pairs

    pairs, dropped = candidate_pairs(_lsh_sigs(spark), LSH_CFG)
    got = {(r["fid_a"], r["fid_b"]) for r in pairs.collect()}
    assert got == {("A", "B")}
    # both oversized buckets fully resolved by escalation: nothing dropped
    assert dropped.count() == 0


def test_lsh_escalation_disabled_drops_bucket(spark):
    from rmlint_spark.operators.lsh import candidate_pairs

    cfg = replace(LSH_CFG, lsh_escalate_levels=0)
    pairs, dropped = candidate_pairs(_lsh_sigs(spark), cfg)
    assert pairs.count() == 0
    report = dropped.collect()
    assert len(report) == 2  # the two planted width-6 band buckets
    assert all(r["width"] == 6 and r["level"] == 0 for r in report)


def _simhash(b0, b1, b2, b3):
    return b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)


def _sim_sigs(spark):
    """block0=0x00AA bucket {A,B,X1..X5} and block1=0x0BB0 bucket
    {A,B,Y1..Y5} are width 7 > cap 4. A,B agree on blocks {0,1} and
    differ one bit in each of blocks 2,3 (hamming 2); every other
    block value is unique, so no level-0 pair exists."""
    rows = [
        ("A", _simhash(0x00AA, 0x0BB0, 0x1111, 0x2222)),
        ("B", _simhash(0x00AA, 0x0BB0, 0x1110, 0x2223)),
    ]
    for i in range(5):
        rows.append((f"X{i}", _simhash(0x00AA, 0x3000 + 7 * i, 0x4000 + 7 * i, 0x5000 + 7 * i)))
    for i in range(5):
        rows.append((f"Y{i}", _simhash(0x6000 + 7 * i, 0x0BB0, 0x7000 + 7 * i, 0x0800 + 7 * i)))
    return spark.createDataFrame(rows, ["fid", "simhash"])


SIM_CFG = EngineConfig(simhash_max_bucket_width=4)


def test_simhash_escalation_recovers_two_block_pairs(spark):
    from rmlint_spark.operators.simhash_op import simhash_candidates

    pairs, dropped = simhash_candidates(_sim_sigs(spark), SIM_CFG)
    got = {(r["fid_a"], r["fid_b"]): r["hamming"] for r in pairs.collect()}
    assert got == {("A", "B"): 2}
    # every escalated (block, partner) bucket is under the cap
    assert dropped.count() == 0


def test_simhash_escalation_disabled_drops_bucket(spark):
    from rmlint_spark.operators.simhash_op import simhash_candidates

    cfg = replace(SIM_CFG, simhash_escalate=False)
    pairs, dropped = simhash_candidates(_sim_sigs(spark), cfg)
    assert pairs.count() == 0
    report = dropped.collect()
    assert len(report) == 2 and all(r["width"] == 7 and r["level"] == 0 for r in report)


def _report(df):
    return sorted(map(tuple, df.collect()))


def test_over_cap_report_distributed_matches_local(spark, monkeypatch):
    """With ``_PROBE_CAP`` at 0 every over-cap probe takes the
    distributed branch (report kept as a relation, ANN member keys
    semi-joined instead of broadcast). Each lane must give the same
    pairs or buckets and the same dropped rows as the local branch."""
    from rmlint_spark.operators.ann import hyperplane_bucket_ladder
    from rmlint_spark.operators.lsh import candidate_pairs
    from rmlint_spark.operators.simhash_op import simhash_candidates

    lsh_sigs, sim_sigs = _lsh_sigs(spark), _sim_sigs(spark)
    lsh_cfg = replace(LSH_CFG, lsh_escalate_levels=0)
    sim_cfg = replace(SIM_CFG, simhash_escalate=False)

    # planted hot vectors: 12 near-copies share every level-0 bucket
    # (cap 4); escalation splits nothing, so they are dropped at level 1
    rng = np.random.RandomState(5)
    base = rng.standard_normal(8)
    vecs = [base + 1e-6 * rng.standard_normal(8) for _ in range(12)]
    vecs += [rng.standard_normal(8) for _ in range(20)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    ladder = dict(n_bands=4, bits_per_band=4, max_bucket=4, max_levels=1, seed=3)

    def run():
        pairs, lsh_dropped = candidate_pairs(lsh_sigs, lsh_cfg)
        sim_pairs, sim_dropped = simhash_candidates(sim_sigs, sim_cfg)
        buckets, ann_dropped = hyperplane_bucket_ladder(emb, **ladder)
        return [
            _report(df)
            for df in (pairs, lsh_dropped, sim_pairs, sim_dropped, buckets, ann_dropped)
        ]

    local = run()
    monkeypatch.setattr(lsh, "_PROBE_CAP", 0)
    assert run() == local
    # the fixtures do reach the over-cap branch in every lane
    assert len(local[1]) == 2 and len(local[3]) == 2
    assert local[5] and all(r[3] == 1 for r in local[5])


def _twin(sigs, cfg):
    """The distributed candidate -> verify chain that
    ``lsh.local_near_edges`` replaces: (edges, dropped) rows, sorted."""
    from rmlint_spark.operators.lsh import candidate_pairs, jaccard_verify

    pairs, dropped = candidate_pairs(sigs, cfg)
    edges = jaccard_verify(pairs, sigs, cfg.jaccard_threshold).select("fid_a", "fid_b")
    return _report(edges), _report(dropped)


def _local(sigs, cfg, stats=None):
    got = lsh.local_near_edges(sigs, cfg, stats)
    assert got is not None, "the local core declined"
    return _report(got[0]), _report(got[1])


def test_local_core_matches_distributed_escalation(spark):
    """On the planted buckets the local core escalates, drops and
    verifies exactly as the distributed chain: with escalation the
    pair A,B (8 of 16 equal slots, kept at threshold 0.5) and nothing
    dropped; without it no pair and the two width-6 level-0 rows."""
    sigs = _lsh_sigs(spark)
    cfg = replace(LSH_CFG, jaccard_threshold=0.5)
    stats: dict = {}
    local = _local(sigs, cfg, stats)
    assert local == _twin(sigs, cfg) == ([("A", "B")], [])
    assert stats["lsh_level"] == 1 and stats["verified_edges"] == 1

    flat = replace(cfg, lsh_escalate_levels=0)
    edges, dropped = _local(sigs, flat)
    assert (edges, dropped) == _twin(sigs, flat)
    assert edges == [] and len(dropped) == 2
    assert all(r[2] == 6 and r[3] == 0 for r in dropped)

    # just over the pair's estimate, verify rejects it on both paths
    strict = replace(cfg, jaccard_threshold=0.51)
    assert _local(sigs, strict) == _twin(sigs, strict) == ([], [])


def test_local_core_empty_signatures(spark):
    sigs = spark.createDataFrame([], "fid string, sig array<bigint>")
    assert _local(sigs, LSH_CFG) == _twin(sigs, LSH_CFG) == ([], [])


def test_local_core_declines_over_candidate_bound(spark, monkeypatch):
    """Twelve identical signatures fill one bucket per band, exactly
    ``max_bucket_width`` wide: the candidate bound is 4 bands x 66
    pairs. At a budget of exactly 16 B a bound pair the local core runs
    and matches the chain; one byte less and it declines."""
    sigs = spark.createDataFrame(
        [(f"f{i:02d}", list(range(16))) for i in range(12)],
        "fid string, sig array<bigint>",
    )
    cfg = replace(LSH_CFG, max_bucket_width=12)
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 16 * 4 * 66)
    stats: dict = {}
    local = _local(sigs, cfg, stats)
    assert stats["candidate_bound"] == 4 * 66
    assert local == _twin(sigs, cfg) and len(local[0]) == 66 and local[1] == []
    monkeypatch.setattr(lsh, "LOCAL_NEAR_BYTES", 16 * 4 * 66 - 1)
    stats = {}
    assert lsh.local_near_edges(sigs, cfg, stats) is None
    assert stats["sig_rows"] == 12 and stats["candidate_bound"] == 4 * 66
