"""SimHash near-duplicate candidate generation (layer B).

Complement to MinHash/LSH (operators/lsh.py): a 64-bit SimHash per
file, candidates = pairs within Hamming distance <= D. Candidate
generation uses the pigeonhole block trick: split the 64-bit signature
into B contiguous blocks; any pair within Hamming distance D < B must
agree exactly on at least one block, so a self-join per (block_id,
block_value) finds all such pairs; the exact Hamming check
(JVM-side ``bit_count(xor)``) then filters false positives.

Same skew discipline as the LSH join, with a tighter default cap
(cfg.simhash_max_bucket_width — see config.py for the measured
rationale): block buckets wider than the cap are excluded and
reported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.functions.simhash import hamming, simhash_udf
from rmlint_spark.operators.lint import KEY
from rmlint_spark.operators.lsh import (
    _bucket_pairs,
    _bucket_width,
    _gather_buckets,
    _probe_over_cap,
    _split_at_cap,
    representative_rows,
)


def with_simhash(files: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(fid, repo, path, commit, sha, simhash) — one row per distinct
    content (representative bundling, see operators/lsh.py), one
    vectorized pass. Feature granularity follows
    cfg.sig.simhash_features (shingle default — see config.py)."""
    udf = simhash_udf(cfg.sig.simhash_features, cfg.sig.shingle_k)
    return representative_rows(files).select(
        "fid", *KEY, "sha", udf(F.col("content")).alias("simhash")
    )


def _blocks(sims: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(fid, simhash, block_id, block_value): contiguous 16-bit (for 4
    blocks) slices extracted with shifts/masks — pure codegen
    expressions; the signature rides along on each exploded row."""
    nblocks = cfg.sig.simhash_blocks
    width = cfg.sig.simhash_bits // nblocks
    mask = (1 << width) - 1
    expr = (
        f"transform(sequence(0, {nblocks - 1}), "
        f"b -> shiftright(simhash, b * {width}) & {mask}L)"
    )
    return sims.select(
        "fid", "simhash", F.posexplode(F.expr(expr)).alias("block_id", "block_value")
    )


def simhash_candidates(
    sims: DataFrame, cfg: EngineConfig = DEFAULT
) -> tuple[DataFrame, DataFrame]:
    """Pairs within Hamming distance <= cfg.sig.simhash_max_hamming.

    Returns (pairs(fid_a, fid_b, hamming), dropped_report).

    Escalation (SURVEY §7.4): members of an over-cap block bucket
    re-bucket on (block, partner-block) agreement for EVERY partner
    block — any pair agreeing on >= 2 of the B blocks is recovered
    from an oversized bucket (a 2x-wide key splits same-vocabulary
    pileups the way the funnel's longer prefix splits size groups).
    Pairs whose differing bits hit all other blocks (agree on exactly
    the oversized block) remain unrecoverable — the documented
    residual, visible via the report. Buckets still over the cap under
    the 2-block key are dropped and reported with level=1. All
    escalation relations are narrow (fid, block ids/values) rows for
    oversized members only.
    """
    from rmlint_spark.operators.exact import _pin

    # the narrow (fid, simhash) projection feeds the block explode; an
    # UNCACHED ``sims`` lineage (bench lane: representative_rows + the
    # signature UDF) must run once, not per reference
    s = _pin(sims.select("fid", "simhash"))
    # members are (fid, simhash) STRUCTS: the 8-byte signature rides
    # the gather, so the pair expansion emits both signatures inline,
    # the hamming gate runs before pair dedup, and no fetch join back
    # to the signatures is needed
    member = F.struct("fid", "simhash")
    keys = ["block_id", "block_value"]
    buckets = _pin(_gather_buckets(_blocks(s, cfg), keys, member))
    ok, over = _split_at_cap(buckets, cfg.simhash_max_bucket_width)
    rows, dropped = _probe_over_cap(
        over.select(*keys, _bucket_width().alias("width")), 0
    )
    cand = _bucket_pairs(ok)
    if rows != [] and cfg.simhash_escalate:
        esc_members = over.select(
            *keys, F.explode("_members").alias("_m")
        ).select(*keys, "_m.fid", "_m.simhash")
        # flat partner rows re-derive from the PINNED bucket arrays —
        # never from the signature UDF again
        partners = buckets.select(
            F.col("block_id").alias("partner_id"),
            F.col("block_value").alias("partner_value"),
            F.explode("_members").alias("_m"),
        ).select("partner_id", "partner_value", "_m.fid")
        esc_cap = min(cfg.simhash_escalate_cap, cfg.simhash_max_bucket_width)
        esc = esc_members.join(partners, "fid").filter(
            F.col("partner_id") != F.col("block_id")
        )
        esc_buckets = _pin(
            _gather_buckets(esc, [*keys, "partner_id", "partner_value"], member)
        )
        esc_ok, esc_over = _split_at_cap(esc_buckets, esc_cap)
        cand = cand.unionByName(_bucket_pairs(esc_ok))
        dropped = esc_over.select(
            *keys, _bucket_width().alias("width"), F.lit(1).alias("level")
        )
    joined = (
        cand.select(
            F.col("fid_a.fid").alias("fid_a"),
            F.col("fid_b.fid").alias("fid_b"),
            hamming(F.col("fid_a.simhash"), F.col("fid_b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= cfg.sig.simhash_max_hamming)
        .dropDuplicates(["fid_a", "fid_b"])
    )
    return joined, dropped
