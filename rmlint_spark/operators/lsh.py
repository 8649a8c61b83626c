"""MinHash-LSH near-duplicate candidate generation + verification.

The distributed generalization of the reference's funnel (R2,
lib/shredder.c:47-60): cheap signatures route files into buckets;
only bucket-mates are compared; survivors are verified exactly. The
"band join" replaces ``rm_shred_sift``'s digest routing
(lib/shredder.c:979-1045) with a relational self-join.

Pipeline:
  files --minhash_udf--> signatures (array<long>, one Arrow pass)
        --band hash----> (band_id, band_hash) rows  [posexplode]
        --self-join----> candidate pairs (a < b)    [skew-guarded]
        --zip_with-----> estimated Jaccard filter   [JVM-side]
        --optional-----> exact token-Jaccard / byte confirm

Below ``LOCAL_NEAR_BYTES`` the band / self-join / verify steps run on
the driver instead (``local_near_edges``): one bounded Arrow collect
of the signatures with their JVM-computed band and escalation keys,
then numpy bucketing and verification with the chain's exact
semantics. The chain (``candidate_pairs`` -> ``jaccard_verify``) stays
the path for inputs past the budget.

Scale notes:
- file ids are 128-bit content-independent keys (sha256/2 of the row
  key) so pair joins shuffle 2x16 bytes, never paths or content;
- bucket width is capped (cfg.max_bucket_width): a bucket wider than
  the cap degenerates into O(w^2) pairs — those buckets are emitted
  to a side report instead of exploding the join (reference analog:
  the paranoid-memory governor holding back giant groups,
  lib/shredder.c:582-647). The exact funnel already catches their
  exact dups; near-dup recall inside pathological buckets is traded
  for boundedness, and the side report makes the trade visible;
- AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.functions.minhash import (
    combined_udf,
    estimated_jaccard,
    is_sentinel,
    minhash_udf,
)
from rmlint_spark.operators.lint import KEY

# max over-cap bucket keys pulled to the driver by one over-cap probe
# (``_probe_over_cap``) before the report stays distributed
_PROBE_CAP = 10_000

# driver budget of ``local_near_edges``: the collected signature rows
# and the candidate-pair bound must each fit under it, else the
# distributed candidate → verify chain runs (about 50k signatures)
LOCAL_NEAR_BYTES = 64 << 20

# smallest candidate-pair count at which ``jaccard_verify`` prunes the
# signature relation to the paired fids before the fetch joins
VERIFY_PRUNE_MIN = 500_000


def file_id(prefix: str = "") -> F.Column:
    """128-bit hex row key (collision-safe at 10^12 rows, unlike a
    64-bit surrogate)."""
    return F.substring(
        F.sha2(F.concat_ws("\x01", F.lit(prefix), "repo", "path", "commit"), 256), 1, 32
    )


def row_index(files: DataFrame) -> DataFrame:
    """(fid, repo, path, commit, sha): one row per file. fid and sha
    are computed map-side on the scan; path-double removal (J2)
    deduplicates the NARROW projection — content never crosses the
    dedup shuffle (path doubles are byte-identical rows, so hashing
    before deduplicating is value-equivalent)."""
    return (
        files.filter(F.length("content") > 0)
        .select(file_id().alias("fid"), *KEY, F.sha2("content", 256).alias("sha"))
        .dropDuplicates(KEY)
    )


def representative_rows(files: DataFrame, idx: DataFrame | None = None) -> DataFrame:
    """One row (with content) per DISTINCT content — the near-dup
    layer's working set.

    This is rmlint's hardlink/inode bundling (J1, lib/preprocess.c:
    514-526: each inode hashed once, twins re-expanded at output)
    applied to identical contents: without it, every exact-dup family
    shares every LSH band and SimHash block, turning candidate buckets
    quadratic in family size. Representatives collapse those families
    to single nodes; members re-attach after clustering via sha.

    Shuffle shape: the rep-election agg moves only (sha, fid, key) —
    never content; the rep join then pulls content for winners only
    (on Iceberg this is a semi-join pushed into the re-scan).

    ``idx``: a precomputed (ideally pinned) ``row_index`` relation —
    callers that need the file index again downstream (the pipeline's
    member re-expansion) pass it here so the corpus-wide sha256 pass
    and its dedup shuffle run once per pipeline, not twice (round 6,
    guide §2.4)."""
    if idx is None:
        idx = row_index(files)
    reps = idx.groupBy("sha").agg(
        F.min("fid").alias("fid"),
        F.min_by(F.struct(*KEY), F.col("fid")).alias("k"),
        F.count("*").alias("n_rows"),
    ).select("sha", "fid", "n_rows", "k.repo", "k.path", "k.commit")
    # re-attach content for reps only — joined against the RAW scan
    # (no pre-dedup: deduplicating raw rows would sort/shuffle the
    # whole corpus content). A path-doubled rep key yields duplicate
    # joined rows; the fid-dedup below collapses them WITHOUT an extra
    # exchange (it reuses the explicit repartition's partitioning).
    raw = files.filter(F.length("content") > 0).select(*KEY, "content")
    joined = reps.join(raw, KEY, "inner")
    # EXPLICIT repartition before the signature UDFs: the stage cost is
    # per-row CPU, not bytes, so AQE's size-based coalescing would
    # funnel the small exchange into 1-2 partitions and serialize the
    # kernels (observed: one busy core at local[32]). One task per
    # core: each Python-UDF task also pays a fixed worker set-up.
    n_part = files.sparkSession.sparkContext.defaultParallelism
    return joined.repartition(n_part, "fid").dropDuplicates(["fid"])


def stop_shingle_hashes(contents: DataFrame, cfg: EngineConfig = DEFAULT):
    """Document-frequency stop-shingle set: the 32-bit shingle hashes
    present in more than ``cfg.sig.stop_shingle_df`` of (sampled)
    distinct contents, as a numpy array for the signature UDFs.

    Boilerplate (license headers, shared templates, generated
    preambles) floods LSH bands with candidates whose pairs all die at
    the Jaccard gate; removing high-df shingles BEFORE the minima
    kills that pileup at the source (VERDICT r3 #3). The set is
    computed ONCE per run from a deterministic hash-slice sample of
    ``contents`` (any relation with a ``content`` column — typically
    the pinned representative rows) and shipped to executors inside
    the UDF closure (broadcast-sized by construction: df > p% shingles
    are few, or the corpus is degenerate and the cap below applies).

    Returns None when the filter is disabled (stop_shingle_df == 0)."""
    frac, sample_n = cfg.sig.stop_shingle_df, cfg.sig.stop_shingle_sample
    if frac <= 0:
        return None
    n = contents.count()
    if n == 0:
        return None
    stride = max(1, -(-n // sample_n))  # ceil: keep ~sample_n docs
    sample = contents.select("content").filter(
        F.pmod(F.xxhash64("content"), F.lit(stride)) == 0
    )
    n_sampled = max(1, n // stride)
    k = cfg.sig.shingle_k

    @F.pandas_udf("array<long>")
    def _distinct_shingles(content: pd.Series) -> pd.Series:
        from rmlint_spark.functions.minhash import _token_hashes_flat, _per_doc_shingles

        texts = content.tolist()
        th, counts = _token_hashes_flat(texts)
        out = [[] for _ in texts]
        if (counts > 0).any():
            per_doc, nonempty = _per_doc_shingles(th, counts, k)
            for idx, h in zip(np.flatnonzero(nonempty), per_doc):
                out[idx] = np.unique(h).astype(np.int64).tolist()
        return pd.Series(out)

    df_counts = (
        sample.select(F.explode(_distinct_shingles("content")).alias("sh"))
        .groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= F.lit(max(2.0, frac * n_sampled)))
    )
    # Deterministic cap: take the HIGHEST-df shingles first (ties broken
    # by sh) so two runs over the same corpus build the same stop set
    # even when the filtered set exceeds the cap; an unordered limit
    # made signatures non-reproducible in the degenerate
    # high-boilerplate case (ADVICE r4). limit(cap+1) detects overflow.
    cap = 200_000
    rows = (
        df_counts.orderBy(F.col("df").desc(), "sh")
        .select("sh")
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        import warnings

        warnings.warn(
            f"stop-shingle set exceeds cap ({cap}); keeping the {cap} "
            "highest-df shingles — consider raising stop_shingle_df",
            stacklevel=2,
        )
        rows = rows[:cap]
    return np.array([r["sh"] for r in rows], dtype=np.int64).astype(np.uint64)


def with_signatures(
    files: DataFrame, cfg: EngineConfig = DEFAULT, stop=None, idx: DataFrame | None = None
) -> DataFrame:
    """(fid, repo, path, commit, sha, n_rows, sig) — one row per
    distinct content; signature in one vectorized Arrow pass (the
    pipeline hot path). ``idx``: optional precomputed ``row_index``
    (see ``representative_rows``)."""
    from rmlint_spark.operators.exact import _pin

    reps = representative_rows(files, idx)
    if stop is None and cfg.sig.stop_shingle_df > 0:
        reps = _pin(reps)
        stop = stop_shingle_hashes(reps, cfg)
    sig = minhash_udf(cfg.sig.shingle_k, cfg.sig.num_perm, cfg.sig.minhash_seed, stop)
    return reps.select(
        "fid", *KEY, "sha", "n_rows", sig(F.col("content")).alias("sig")
    )


def with_combined_signatures(
    files: DataFrame, cfg: EngineConfig = DEFAULT, stop=None, idx: DataFrame | None = None
) -> DataFrame:
    """(fid, repo, path, commit, sha, n_rows, sig, simhash) — both
    near-dup signatures from ONE content scan and ONE tokenize/SipHash
    pass per Arrow batch. ``idx``: optional
    precomputed ``row_index`` (see ``representative_rows``)."""
    from rmlint_spark.operators.exact import _pin

    reps = representative_rows(files, idx)
    if stop is None and cfg.sig.stop_shingle_df > 0:
        reps = _pin(reps)
        stop = stop_shingle_hashes(reps, cfg)
    both = combined_udf(
        cfg.sig.shingle_k,
        cfg.sig.num_perm,
        cfg.sig.minhash_seed,
        cfg.sig.simhash_features,
        stop,
    )
    reps = reps.withColumn("b", both(F.col("content")))
    return reps.select("fid", *KEY, "sha", "n_rows", "b.sig", "b.simhash")


def lsh_collision_probability(s: float, bands: int, rows: int) -> float:
    """S-curve P(candidate | Jaccard = s) = 1 - (1 - s^r)^b for the
    banding scheme (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets ch. 3.4.2)."""
    return 1.0 - (1.0 - s ** rows) ** bands


def band_threshold(bands: int, rows: int) -> float:
    """The S-curve's steepest point ~ (1/b)^(1/r) — the effective
    Jaccard threshold of a (bands, rows) choice."""
    return (1.0 / bands) ** (1.0 / rows)


def _band_error_integrals(threshold: float, bands: int, rows: int,
                          n: int = 256) -> tuple[float, float]:
    """Midpoint-rule integrals of the two banding error masses:
    false-positive area below the threshold, false-negative area
    above it (the datasketch-style tuning objective)."""
    fp = fn = 0.0
    for i in range(n):
        s = (i + 0.5) / n
        p = lsh_collision_probability(s, bands, rows)
        if s < threshold:
            fp += p
        else:
            fn += 1.0 - p
    return fp / n, fn / n


def optimal_band_config(threshold: float, num_perm: int = 128,
                        fp_weight: float = 0.5) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for a target Jaccard ``threshold``:
    enumerate every exact divisor split of ``num_perm`` (the engine
    requires bands * rows == num_perm so signature slices tile) and
    minimize ``fp_weight * FP-integral + (1-fp_weight) * FN-integral``.
    Driver-side config math — runs once per pipeline, never per row.

    Raising ``fp_weight`` biases toward fewer spurious candidate
    pairs (cheaper verification joins at 100 TB); lowering it biases
    toward recall. The escalation ladder in :func:`candidate_pairs`
    still bounds the damage of a too-loose choice at runtime.

    Measured decision rule (scripts/band_tuning_ab.py, 4000 planted
    docs at Jaccard grades 0.95/0.90/0.80/0.70, threshold 0.7,
    BENCH/band_tuning_ab_r05.jsonl): the BALANCED optimum (16, 8)
    has S-curve P(candidate | s=0.70) = 0.61 and measured band-stage
    recall 0.771 at grade 0.70 / 0.970 at 0.80 — it trades away real
    signal exactly at the threshold boundary for only a 23% candidate
    reduction (978 -> 754). A dedup pipeline with a downstream verify
    join must NOT make that trade: verification absorbs false
    positives, but a pair the band join never emits is lost forever.
    Hence: ``fp_weight <= 0.05`` for dedup (at threshold 0.7 /
    num_perm 128 it recovers the recall-padded (32, 4), measured
    recall 1.0 at every grade); the balanced/precision weightings are
    for candidate-budgeted retrieval where the threshold is a ranking
    preference, not a correctness contract."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError("fp_weight must be in [0, 1]")
    best: tuple[float, int, int] | None = None
    for bands in range(1, num_perm + 1):
        if num_perm % bands:
            continue
        rows = num_perm // bands
        fp, fn = _band_error_integrals(threshold, bands, rows)
        err = fp_weight * fp + (1.0 - fp_weight) * fn
        if best is None or err < best[0]:
            best = (err, bands, rows)
    return best[1], best[2]


def tuned_config(cfg: EngineConfig, threshold: float | None = None,
                 fp_weight: float = 0.05) -> EngineConfig:
    """EngineConfig with ``sig.bands`` re-tuned for ``threshold``
    (default: the config's own ``jaccard_threshold``).  The default
    ``fp_weight`` is the measured recall-safe dedup setting (see
    :func:`optimal_band_config`); pass ~0.5 only for candidate-
    budgeted retrieval where boundary recall is negotiable."""
    from dataclasses import replace

    t = cfg.jaccard_threshold if threshold is None else threshold
    bands, _rows = optimal_band_config(t, cfg.sig.num_perm, fp_weight)
    return replace(cfg, sig=replace(cfg.sig, bands=bands))


def _band_hashes(cfg: EngineConfig) -> F.Column:
    """The level-0 band keys of ``sig``: an array of ``cfg.sig.bands``
    xxhash64 values, one per ``rows_per_band`` slice. JVM-side (no
    Python): transform+slice+xxhash64 inside codegen. The distributed
    chain and the local core both key on this expression."""
    bands, r = cfg.sig.bands, cfg.sig.rows_per_band
    return F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(slice(sig, b * {r} + 1, {r})))"
    )


def _prefix_hash(slice_len: int) -> F.Column:
    """An escalation key: xxhash64 over the first ``slice_len`` slots
    of ``sig``."""
    return F.xxhash64(F.expr(f"slice(sig, 1, {slice_len})"))


def _escalation_slices(cfg: EngineConfig) -> list[int]:
    """The signature prefix length of escalation levels 1, 2, ...: the
    band slice doubled per level until it covers the whole signature
    or ``cfg.lsh_escalate_levels`` levels exist."""
    slices, slice_len = [], cfg.sig.rows_per_band
    while slice_len < cfg.sig.num_perm and len(slices) < cfg.lsh_escalate_levels:
        slice_len = min(slice_len * 2, cfg.sig.num_perm)
        slices.append(slice_len)
    return slices


def _bandable(signatures: DataFrame) -> DataFrame:
    """Signatures that take part in banding. Sentinel signatures (all
    -1: empty doc, or every shingle stopped) are excluded — banding
    them would collide all sentinel docs into one giant spurious
    bucket per band."""
    return signatures.filter(~is_sentinel(F.col("sig")))


def band_buckets(signatures: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(fid, band_id, band_hash): xxhash64 over each signature slice
    (``_band_hashes``) of every bandable signature."""
    return _bandable(signatures).select(
        "fid", F.posexplode(_band_hashes(cfg)).alias("band_id", "band_hash")
    )


def _gather_buckets(
    rel: DataFrame, keys: list[str], member, distinct: bool = False
) -> DataFrame:
    """The gathered-bucket relation shared by every candidate lane
    (LSH bands, SimHash blocks, substring windows, winnowed
    fingerprints): one row per ``keys`` bucket whose ``_members``
    array collects ``member`` (a column name, or a struct column that
    carries a payload such as the SimHash signature). ``distinct``
    drops repeated members, for an index that was not deduplicated.

    One ``collect_list`` aggregation is the whole candidate stage's
    shuffle: the bucket width is ``size(_members)`` on the gathered
    row, so there is no separate width aggregation; the over-cap check
    and escalation's member extraction are filters and explodes of this
    relation, not anti/semi joins; and pairs come from in-bucket array
    expansion (``_bucket_pairs``), not a two-sided equi-join. The keyed
    relation crosses the network once instead of three times (width
    aggregation plus both join sides), and per-row expansion memory is
    O(width), which ``_split_at_cap`` bounds."""
    members = F.collect_list(member)
    if distinct:
        members = F.array_distinct(members)
    return rel.groupBy(*keys).agg(members.alias("_members"))


def _split_at_cap(buckets: DataFrame, cap: int) -> tuple[DataFrame, DataFrame]:
    """(ok, over): gathered buckets at most ``cap`` wide, and the rest."""
    width = F.size("_members")
    return buckets.filter(width <= cap), buckets.filter(width > cap)


def _bucket_width() -> F.Column:
    """A gathered bucket's width (member count) as the reports' bigint."""
    return F.size("_members").cast("long")


def _probe_over_cap(over: DataFrame, level: int) -> tuple[list | None, DataFrame]:
    """The bounded over-cap probe: one ``limit + collect`` driver
    action on ``over``, already projected to ``(*keys, width)``.

    Returns ``(rows, report)``. ``rows`` are the collected over-cap
    rows (``[]`` when no bucket is over the cap), or None when there
    are more than ``_PROBE_CAP`` of them. ``report`` is
    ``(*keys, width, level)``: a small local relation built from
    ``rows``, or, past the cap, ``over`` itself kept distributed."""
    rows = over.limit(_PROBE_CAP + 1).collect()
    if len(rows) > _PROBE_CAP:
        return None, over.withColumn("level", F.lit(level))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in over.schema)
    report = over.sparkSession.createDataFrame(
        [(*r, level) for r in rows], f"{schema}, level int"
    )
    return rows, report


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """All (fid_a < fid_b) member pairs of each gathered bucket
    (``_gather_buckets``): explode each member as the pair head, pair
    it with every LARGER member of the same bucket via a higher-order
    filter — pure whole-stage codegen, no join. Struct members compare
    field by field, so ``(fid, payload)`` structs order by fid first.
    NOT deduplicated across buckets."""
    return buckets.select(F.explode("_members").alias("fid_a"), "_members").select(
        "fid_a",
        F.explode(F.filter("_members", lambda y: y > F.col("fid_a"))).alias("fid_b"),
    )


def candidate_pairs(
    signatures: DataFrame, cfg: EngineConfig = DEFAULT, stats: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """Self-join on (band_id, band_hash); returns (pairs, dropped).

    ``pairs``: distinct (fid_a, fid_b) with fid_a < fid_b.
    ``dropped``: buckets STILL wider than cfg.max_bucket_width after
    escalation, excluded from the join (skew guard) and reported with
    the level they died at.

    Escalation (SURVEY §7.4; generation precedent lib/shredder.c:47-60):
    members of an over-cap bucket re-bucket at level L on
    ``xxhash64(sig[0 : rows_per_band * 2^L])`` — a doubled signature
    slice per level, the near-dup analog of the funnel hashing a longer
    prefix for still-colliding groups. High-similarity pairs inside a
    pathological bucket (identical long prefixes of minima) split into
    under-cap sub-buckets and are recovered instead of silently traded
    away; the slice doubles until it covers the full signature, so the
    loop is bounded at ``log2(num_perm / rows_per_band)`` levels.
    Escalated keys use band_id = -level (disjoint from real band ids).
    Every per-level relation is a narrow (fid, band_id, band_hash)
    projection of the oversized members only — the escalation path
    never touches content and shrinks geometrically.

    Each level is one pinned ``_gather_buckets`` relation and one
    ``_probe_over_cap`` driver action. ``stats`` (optional dict)
    receives the level reached (``lsh_level``) and the dropped bucket
    count (``dropped_buckets``, None when the report stays
    distributed). ``local_near_edges`` is the driver-side twin.
    """
    from rmlint_spark.operators.exact import _pin

    keys = ["band_id", "band_hash"]
    slices = _escalation_slices(cfg)
    cur = band_buckets(signatures, cfg)
    ok_levels: list[DataFrame] = []
    esc_cap = min(cfg.lsh_escalate_cap, cfg.max_bucket_width)
    for level in range(len(slices) + 1):
        cap = cfg.max_bucket_width if level == 0 else esc_cap
        ok, over = _split_at_cap(_pin(_gather_buckets(cur, keys, "fid")), cap)
        ok_levels.append(ok)
        rows, dropped = _probe_over_cap(
            over.select(*keys, _bucket_width().alias("width")), level
        )
        if rows == [] or level == len(slices):
            break
        over_fids = (
            over.select(F.explode("_members").alias("fid")).dropDuplicates(["fid"])
        )
        cur = (
            signatures.join(over_fids, "fid", "left_semi")
            .select(
                "fid",
                F.lit(-(level + 1)).alias("band_id"),
                _prefix_hash(slices[level]).alias("band_hash"),
            )
        )
    if stats is not None:
        stats["lsh_level"] = level
        stats["dropped_buckets"] = None if rows is None else len(rows)
    ok = ok_levels[0]
    for extra in ok_levels[1:]:
        ok = ok.unionByName(extra)
    pairs = _bucket_pairs(ok).dropDuplicates(["fid_a", "fid_b"])
    return pairs, dropped


def jaccard_verify(
    pairs: DataFrame, signatures: DataFrame, threshold: float
) -> DataFrame:
    """Filter (fid_a, fid_b) pairs by estimated Jaccard >= threshold.
    The unified verification step for ANY candidate source (LSH bands,
    SimHash blocks, substring windows). Joins carry only (fid, sig) —
    content never shuffles here.

    The signature relation is O(corpus) while the candidate relation
    is O(pairs) ≪ O(corpus) after banding, so sigs are first PRUNED to
    the fids that appear in any pair (semi join — AQE turns it into a
    broadcast when the id set is small, and the pruned fetch joins
    below then broadcast too): the 128-slot signature arrays shuffle
    at O(pairs) instead of twice at O(corpus). The candidate relation
    is pinned first — it is referenced by the prune AND the fetch
    join, and re-deriving a band self-join twice costs more than the
    narrow (fid_a, fid_b) cache. The PRUNED signature relation is
    pinned too (round 6): both fetch joins reference it, and without
    the pin each join re-ran the corpus-sized semi-join scan — the
    verify stage's measured hot spot (2.1 s -> sub-second at the 50k-
    sig bench corpus)."""
    from rmlint_spark.operators.exact import _pin

    pairs = _pin(pairs.select("fid_a", "fid_b"))
    sigs = signatures.select("fid", "sig")
    # Adaptive prune (round 6): when the pinned pair relation is small
    # enough to BROADCAST, the fetch joins never shuffle sigs at all
    # (broadcast-hash, build = pairs) — the prune's whole purpose is
    # the over-broadcast regime where sigs would otherwise shuffle at
    # O(corpus), so below the threshold its union/distinct/semi-join
    # stages are pure overhead and are skipped. One count on the
    # pinned relation decides (``VERIFY_PRUNE_MIN``: 500k pairs ~ 35 MB
    # broadcast-framed — under the 64 MB session autoBroadcast
    # threshold).
    if pairs.count() >= VERIFY_PRUNE_MIN:
        pair_ids = (
            pairs.select(F.col("fid_a").alias("fid"))
            .union(pairs.select(F.col("fid_b").alias("fid")))
            .distinct()
        )
        sigs = _pin(sigs.join(pair_ids, "fid", "leftsemi"))
    joined = (
        pairs.select("fid_a", "fid_b")
        .join(sigs.withColumnRenamed("fid", "fid_a").withColumnRenamed("sig", "sig_a"), "fid_a")
        .join(sigs.withColumnRenamed("fid", "fid_b").withColumnRenamed("sig", "sig_b"), "fid_b")
    )
    return (
        joined.withColumn("est_jaccard", estimated_jaccard(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("fid_a", "fid_b", "est_jaccard")
    )


def verified_pairs(
    signatures: DataFrame, cfg: EngineConfig = DEFAULT
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs filtered by estimated Jaccard >= threshold.

    Returns (verified, oversized_report)."""
    pairs, oversized = candidate_pairs(signatures, cfg)
    return jaccard_verify(pairs, signatures, cfg.jaccard_threshold), oversized


def _near_rows(signatures: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(fid, sig, keys): the relation ``local_near_edges`` collects, one
    row per bandable signature. ``keys`` holds the ``bands`` level-0
    band keys, then one key per escalation level — the expressions
    ``candidate_pairs`` evaluates, so both paths bucket alike, hash
    collisions included. A null fid is never a bucket member
    (``collect_list`` skips it), so it is dropped here."""
    keys = _band_hashes(cfg)
    esc = [_prefix_hash(n) for n in _escalation_slices(cfg)]
    if esc:
        keys = F.concat(keys, F.array(*esc))
    return (
        _bandable(signatures)
        .filter(F.col("fid").isNotNull())
        .select("fid", "sig", keys.alias("keys"))
    )


def _list_matrix(col) -> np.ndarray | None:
    """An Arrow list<long> column as an (n, width) int64 matrix, or None
    when its lists differ in length."""
    arr = col.combine_chunks()
    lengths = np.diff(arr.offsets.to_numpy())
    if len(lengths) and (lengths != lengths[0]).any():
        return None
    width = int(lengths[0]) if len(lengths) else 0
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), width)


def _local_buckets(members, band, hashes):
    """Buckets of equal ``(band, hash)``: the members sorted by bucket
    then member, each bucket's start offset and width, and each
    bucket's (band, hash) key."""
    order = np.lexsort((members, hashes, band))
    m, b, h = members[order], band[order], hashes[order]
    new = np.ones(len(m), dtype=bool)
    new[1:] = (b[1:] != b[:-1]) | (h[1:] != h[:-1])
    starts = np.flatnonzero(new)
    widths = np.diff(np.append(starts, len(m)))
    return m, starts, widths, b[starts], h[starts]


def _local_pairs(m, starts, widths):
    """(a, b) arrays of every ``a < b`` member pair inside each bucket
    (members of one bucket lie sorted at ``m[start : start + width]``),
    built one bucket width at a time. Not deduplicated."""
    heads, tails = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for w in np.unique(widths[widths > 1]):
        block = m[starts[widths == w][:, None] + np.arange(w)]
        i, j = np.triu_indices(w, 1)
        heads.append(block[:, i].ravel())
        tails.append(block[:, j].ravel())
    return np.concatenate(heads), np.concatenate(tails)


def local_near_edges(
    signatures: DataFrame, cfg: EngineConfig = DEFAULT, stats: dict | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """``candidate_pairs`` followed by ``jaccard_verify`` at
    ``cfg.jaccard_threshold``, evaluated on the driver: returns
    ``(edges, dropped)`` — verified ``(fid_a, fid_b)`` pairs and the
    over-cap report, as small local relations — or None when the input
    is over ``LOCAL_NEAR_BYTES`` and the distributed chain must run.

    One ``bounded_arrow`` collect of ``_near_rows`` (signatures plus
    their JVM-computed band and escalation keys) replaces the chain's
    per-level gather, over-cap probe, verify joins and counts — about
    twenty Spark jobs for a few thousand signatures. The semantics are
    the chain's: level-0 buckets are ``(band_id, band_hash)`` capped at
    ``max_bucket_width``; each escalated level re-keys only the
    over-cap members on a longer prefix under ``min(lsh_escalate_cap,
    max_bucket_width)``; the loop stops when nothing is over the cap or
    the escalation levels run out; ``dropped`` is the last level's
    over-cap ``(band_id, band_hash, width, level)``; pairs are the
    distinct in-bucket ``fid_a < fid_b`` pairs; and a pair is kept when
    its equal-slot count over the signature width reaches the
    threshold, the same double ``estimated_jaccard`` gives.

    The budget caps two things, and the core declines when either is
    over it: the collected rows (at an estimated row size, before the
    collect) and the candidate bound, sum of w(w-1)/2 over the
    under-cap buckets of every level at 16 B a pair. The bound comes
    from bucket widths before any pair is built, so one giant bucket
    cannot exhaust driver memory. It also declines on signatures of
    unequal length. ``stats`` (optional dict) receives the numbers that
    decided: ``sig_rows_cap``, ``sig_rows`` (None past the cap),
    ``candidate_bound``, and on success ``lsh_level``,
    ``dropped_buckets`` and ``verified_edges``."""
    import pyarrow as pa

    from rmlint_spark.operators.exact import bounded_arrow

    if stats is None:
        stats = {}
    slices = _escalation_slices(cfg)
    bands = cfg.sig.bands
    # a 32-char hex fid with its Arrow offsets, then the int64 slots
    row_bytes = 48 + 8 * (cfg.sig.num_perm + bands + len(slices))
    stats["sig_rows_cap"] = max_rows = LOCAL_NEAR_BYTES // row_bytes
    if max_rows < 1:
        return None
    tbl = bounded_arrow(_near_rows(signatures, cfg), max_rows)
    stats["sig_rows"] = None if tbl is None else tbl.num_rows
    if tbl is None:
        return None
    # member ids are row positions in fid order, so id order is fid
    # order (Arrow sorts strings by bytes, as Spark compares them)
    tbl = tbl.sort_by("fid")
    sig, keys = _list_matrix(tbl.column("sig")), _list_matrix(tbl.column("keys"))
    if sig is None or keys is None:
        return None
    n = tbl.num_rows
    level_rows = (
        np.repeat(np.arange(n), bands),
        np.tile(np.arange(bands), n),
        keys[:, :bands].ravel(),
    )
    esc_cap = min(cfg.lsh_escalate_cap, cfg.max_bucket_width)
    ok, bound = [], 0
    for level in range(len(slices) + 1):
        cap = cfg.max_bucket_width if level == 0 else esc_cap
        m, starts, widths, b, h = _local_buckets(*level_rows)
        under = widths <= cap
        w = widths[under]
        bound += int((w * (w - 1) // 2).sum())
        ok.append((m, starts[under], w))
        over = ~under
        dropped = [
            (int(x), int(y), int(z), level) for x, y, z in zip(b[over], h[over], widths[over])
        ]
        if not dropped or level == len(slices):
            break
        ids = np.unique(m[np.repeat(over, widths)])
        level_rows = (ids, np.full(len(ids), -(level + 1)), keys[ids, bands + level])
    stats["candidate_bound"] = bound
    # two int64 member ids per candidate pair
    if 16 * bound > LOCAL_NEAR_BYTES:
        return None
    heads, tails = zip(*(_local_pairs(*lv) for lv in ok))
    code = np.unique(np.concatenate(heads) * n + np.concatenate(tails))
    a, b = code // n, code % n
    keep = np.zeros(len(code), dtype=bool)
    width, chunk = sig.shape[1], 8192
    for s in range(0, len(code), chunk):
        equal = (sig[a[s:s + chunk]] == sig[b[s:s + chunk]]).sum(axis=1)
        keep[s:s + chunk] = equal / width >= cfg.jaccard_threshold
    stats["lsh_level"] = level
    stats["dropped_buckets"] = len(dropped)
    stats["verified_edges"] = int(keep.sum())
    spark = signatures.sparkSession
    fids = tbl.column("fid")
    fid_type = signatures.schema["fid"].dataType.simpleString()
    edges = spark.createDataFrame(
        pa.table({"fid_a": fids.take(a[keep]), "fid_b": fids.take(b[keep])}),
        f"fid_a {fid_type}, fid_b {fid_type}",
    )
    report = spark.createDataFrame(
        dropped, "band_id int, band_hash bigint, width bigint, level int"
    )
    return edges, report
