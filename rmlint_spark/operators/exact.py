"""Exact-duplicate funnel — the engine's core (SURVEY.md §7.1).

Reference semantics: rmlint's shredder (lib/shredder.c:47-60 design
note) — "hash everything" rewritten as a staged funnel:

  gen-0  group by file size; unique sizes never read       (R1,
         lib/shredder.c:50-56, qualify :798-809)
  gen-k  hash a prefix increment; only still-colliding groups
         read more                                          (R2,
         rm_shred_get_read_size lib/shredder.c:496-533)
  final  full digest; optional byte-for-byte confirm        (paranoid
         mode, lib/shredder.c:218-258)

Spark realization: each generation is one hash aggregation over
``(size, sig_so_far)`` followed by a count>=2 qualification
(``rm_shred_group_qualifies``, lib/shredder.c:798-809). Thread
boundaries become shuffle boundaries; "only read survivors" becomes
"re-scan content only for surviving keys" — the funnel's wide ops
shuffle only (key, size, sig) projections, never ``content`` (the one
exception is the explicit byte-confirm, which touches only confirmed
duplicate rows — a tiny fraction of the corpus).

Scale notes (100 TB / 10^12 rows):
- **content NEVER crosses a shuffle boundary in the funnel.** Every
  hash (length, prefix xxhash, full sha256) is computed map-side on
  the scan; deduplication and qualification operate on the NARROW
  (key, size, sig) projection only. Round-1 profiling showed the
  alternative (dedup-then-project) compiles to a SortAggregate of
  ``first(content)`` — the whole corpus sorted and shuffled once per
  funnel stage — which serialized the funnel (flat 8→32-core scaling).
- qualification is one count window per generation, so no relation is
  re-read or pinned for it; the survivor-key sets that drive content
  re-scans are orders of magnitude smaller than the corpus, and AQE
  turns those semi-joins into broadcasts at runtime.
- each generation re-scans content for surviving keys only (parquet
  scans are embarrassingly parallel; at deployment scale the
  survivor semi-join prunes the re-read, and ``size`` would be an
  Iceberg stats column so gen-0 never touches bytes).
- no driver-side collection anywhere; cluster ids are content-derived
  (sha256), hence deterministic under any partitioning.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from rmlint_spark.config import DEFAULT, EngineConfig
from rmlint_spark.operators.lint import KEY, size_filter
from rmlint_spark.operators.rank import tag_originals

# JVM-native expressions (whole-stage codegen, the fast path)
_JVM_ALGOS = {"sha224", "sha256", "sha384", "sha512", "md5", "xxhash64"}
# hashlib-backed algorithms via an Arrow-batched pandas UDF — covers
# the reference's default blake2b (lib/config.h.in:29) and the rest of
# its selectable family (enum lib/checksum.c:815-851) that the JVM has
# no built-in expression for
_HASHLIB_ALGOS = {
    "blake2b": "blake2b",
    "blake2s": "blake2s",
    "sha1": "sha1",
    "sha3-256": "sha3_256",
    "sha3-384": "sha3_384",
    "sha3-512": "sha3_512",
}
# pure-Python ports of reference-only algorithms with no hashlib/JVM
# equivalent (config compatibility, not a throughput path); each maps
# to a bytes -> digest-bytes function, vectors pinned against the
# reference implementations (tests/test_hashes.py)
def _pure_port(algo: str):
    if algo == "murmur":
        from rmlint_spark.functions.murmur import murmur3_x64_128

        return murmur3_x64_128
    if algo in ("metro", "metro256", "metrocrc", "metrocrc256"):
        from rmlint_spark.functions import metro as _metro

        return {
            "metro": _metro.metro128,
            "metro256": _metro.metro256,
            "metrocrc": _metro.metrocrc128,
            "metrocrc256": _metro.metrocrc256,
        }[algo]
    if algo in ("blake2sp", "blake2bp"):
        from rmlint_spark.functions import blake2p

        return getattr(blake2p, algo)
    # highway64 / highway128 / highway256 (key {1,2,3,4}, checksum.c:383)
    from rmlint_spark.functions.highway import highway_hash

    bits = int(algo.removeprefix("highway"))
    return lambda b: highway_hash(b, bits)


_PURE_ALGOS = {
    "murmur", "metro", "metro256", "metrocrc", "metrocrc256",
    "highway64", "highway128", "highway256", "blake2sp", "blake2bp",
}
DIGEST_ALGOS = _JVM_ALGOS | set(_HASHLIB_ALGOS) | _PURE_ALGOS


def _hashlib_udf(fn_name: str):
    """Factory (a pandas_udf needs an active session): content string
    -> hex digest via one hashlib call per value inside an Arrow batch.
    Hashing is inherently per-value; the batching amortizes transfer
    and the GIL is released inside hashlib's C core."""
    import hashlib

    @F.pandas_udf("string")
    def _h(content: pd.Series) -> pd.Series:
        fn = getattr(hashlib, fn_name)
        return pd.Series(
            [fn((s if s is not None else "").encode("utf-8")).hexdigest() for s in content]
        )

    return _h


def digest(col: Column | str, algo: str = "sha256") -> Column:
    """X1 hash-family selection (-a, lib/checksum.c:815-851). The
    digest is hex text so cluster ids stay string-typed regardless of
    algorithm. sha2/md5/xxhash64 compile to JVM expressions; blake2*/
    sha3*/sha1 run through the vectorized hashlib UDF."""
    algo = algo.lower()
    if algo not in DIGEST_ALGOS:
        raise ValueError(f"unknown checksum algo {algo!r}; pick from {sorted(DIGEST_ALGOS)}")
    if algo in _HASHLIB_ALGOS:
        c = F.col(col) if isinstance(col, str) else col
        return _hashlib_udf(_HASHLIB_ALGOS[algo])(c)
    if algo in _PURE_ALGOS:
        fn = _pure_port(algo)

        @F.pandas_udf("string")
        def _ported(content: pd.Series) -> pd.Series:
            return pd.Series(
                [fn((s if s is not None else "").encode("utf-8")).hex() for s in content]
            )

        c = F.col(col) if isinstance(col, str) else col
        return _ported(c)
    if algo.startswith("sha"):
        return F.sha2(col, int(algo[3:]))
    if algo == "md5":
        return F.md5(col)
    return F.lower(F.hex(F.xxhash64(col)))


def clamped_content(cfg: EngineConfig) -> Column:
    """F7 byte-range clamp (--clamp-low/--clamp-top, lib/file.c:40-88):
    the funnel hashes content[start:end). int = absolute offset, float
    = fraction of the file size, None = the respective edge."""
    start, end = cfg.sig.clamp_start, cfg.sig.clamp_end
    if start is None and end is None:
        return F.col("content")
    length = F.length("content")

    def resolve(spec, default):
        if spec is None:
            return default
        if isinstance(spec, float):
            return F.floor(length * F.lit(spec)).cast("int")
        return F.lit(int(spec))

    lo = resolve(start, F.lit(0))
    hi = resolve(end, length)
    return F.substring("content", lo + 1, F.greatest(hi - lo, F.lit(0)))


def clamp_filter(files: DataFrame, cfg: EngineConfig) -> DataFrame:
    """rm_file_new's return-NULL paths (lib/file.c:44-56,76-85): a file
    whose clamped slice is empty — clamp_start beyond the file size, or
    a factor yielding 0 bytes — is skipped entirely, NOT kept as an
    empty-slice row (which would cluster all too-short files together
    as spurious duplicates of '')."""
    if cfg.sig.clamp_start is None and cfg.sig.clamp_end is None:
        return files
    cc = clamped_content(cfg)
    return files.filter((F.length(cc) > 0) | (F.length("content") == 0))


# DataFrames ``_pin`` persisted, one list per open ``pin_scope``
# (innermost last); pipeline lanes pin from worker threads
_SCOPES: list[list[DataFrame]] = []
_SCOPES_LOCK = threading.Lock()


def _pin(df: DataFrame) -> DataFrame:
    """Persist a NARROW relation that the plan references more than
    once. Without this, every reference re-derives the whole upstream
    funnel chain (Spark only reuses identical exchanges, and the
    funnel's references are different projections), which multiplies
    the corpus scans ~6x per generation. All pinned relations are
    (key, size, sig) projections — tens of bytes per row; at
    deployment scale the same role is played by the durable stage
    checkpoints (sources/checkpoint.py). Pair with ``pin_scope`` to
    release everything a pipeline pinned once its results are
    materialized. A plan that is already cached (by the caller, or by
    an earlier pin) is returned as it is: its owner releases it."""
    from pyspark.storagelevel import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _SCOPES_LOCK:
        if _SCOPES:
            _SCOPES[-1].append(df)
    return df


def bounded_arrow(df: DataFrame, max_rows: int):
    """``df`` collected to the driver as one ``pyarrow.Table``, or None
    when it holds more than ``max_rows`` rows: the engine's one
    "evaluate locally if it fits" switch. A single
    ``limit(max_rows + 1).toArrow()`` action both probes and collects,
    so within the cap there is no second pass, and past it the driver
    never holds more than ``max_rows + 1`` rows."""
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently held in executor storage (persist()
    AND localCheckpoint() both land here — DataFrame.unpersist only
    releases the former, so scope cleanup works at this level)."""
    return {int(x) for x in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(spark, ids) -> None:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if m.containsKey(rid):
            m.get(rid).unpersist(False)


@contextmanager
def pin_scope(spark):
    """Release every relation pinned inside the scope (persist or
    localCheckpoint) on exit — the unpersist discipline for pipeline
    runs. ``_pin``'s DataFrames leave the cache manager, newest first
    (so no dependent entry is re-planned), and a snapshot-diff sweep
    then drops the RDDs left in storage (localCheckpoints), so
    concurrently-held caches are never touched.

    Contract: MATERIALIZE (collect/write/count) anything you need
    before leaving the scope; results still lazily derived from pinned
    intermediates would recompute from scratch afterwards."""
    before = persistent_rdd_ids(spark)
    pinned: list[DataFrame] = []
    with _SCOPES_LOCK:
        _SCOPES.append(pinned)
    try:
        yield
    finally:
        with _SCOPES_LOCK:
            _SCOPES[:] = [s for s in _SCOPES if s is not pinned]
        for df in reversed(pinned):
            df.unpersist()
        unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - before)


def match_key_cols(cfg: EngineConfig) -> list[tuple[str, Column]]:
    """R6 matching criteria (-b/-e/-i): extra group-key columns the
    funnel's every qualification stage groups on, so files that
    disagree on an enabled key never become twins (rm_file_cmp,
    lib/preprocess.c:66-90; tests/test_options/
    test_match_with_extension.py, test_match_without_extension.py).

    Semantics mirrored from the reference:

    - extension = text after the LAST dot of the basename
      (rm_util_path_extension, lib/utilities.c:117-124); a file with
      an extension never matches one without, but two no-extension
      files DO match (the NULL/NULL branch of
      rm_file_cmp_with_extension returns 0) — encoded here as the
      sentinel "." (impossible as a real extension, which can never
      contain a dot).
    - stem comparison covers the basename UP TO AND INCLUDING the
      last dot (a_len = ext - basename in
      rm_file_cmp_without_extension, lib/preprocess.c:48-62), so
      "foo" (3 chars) never matches "foo.c" (stem "foo.", 4 chars).
      The reference compares g_ascii_strcasecmp-style (ASCII case
      fold); full lower() here — identical on ASCII names.
    """
    cols: list[tuple[str, Column]] = []
    basename = F.element_at(F.split("path", "/"), -1)
    if cfg.match_basename:
        cols.append(("_mk_base", F.lower(basename)))
    if cfg.match_with_extension:
        ext = F.when(
            basename.contains("."),
            F.lower(F.regexp_extract(basename, r"\.([^.]*)$", 1)),
        ).otherwise(F.lit("."))
        cols.append(("_mk_ext", ext))
    if cfg.match_without_extension:
        # keep the trailing dot ((?<=\.) lookbehind strips only the
        # extension text) to mirror the reference's length-inclusive
        # prefix compare
        stem = F.lower(F.regexp_replace(basename, r"(?<=\.)[^.]*$", ""))
        cols.append(("_mk_stem", stem))
    return cols


def _qualify(df: DataFrame, keys: list[str]) -> DataFrame:
    """A4 group qualification: keep rows whose group has >= 2 members
    (lib/shredder.c:798-809). One count window over ``keys``: the input
    is read once, so it needs no pin and no semi-join back to it."""
    return (
        df.withColumn("_n", F.count("*").over(W.partitionBy(*keys)))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )


def exact_clusters(files: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Run the funnel; return one row per clustered file:

    (repo, path, commit, size, checksum, cluster_id, cluster_size,
     rank, is_original)

    ``checksum`` is the sha256 hex of ``content`` (the per-row
    invariant vs the reference — BASELINE.json input_hint);
    ``cluster_id == checksum`` (content-derived, partition-independent).

    Path-double removal (J2, lib/preprocess.c:496-512) happens on the
    narrow projection of each generation (``dropDuplicates(KEY)`` after
    the hash projection): duplicate rows are byte-identical, so
    deduplicating hashed projections is value-equivalent to
    deduplicating the raw rows — and it keeps content out of the
    dedup shuffle.
    """
    prefix_len = cfg.sig.prefix_len
    raw = clamp_filter(size_filter(files, cfg), cfg)
    cc = clamped_content(cfg)  # F7: identity unless a clamp is set
    size = F.length(cc).alias("size")
    # R6 matching criteria: extra group-key columns (usually none) —
    # they ride every narrow projection and every qualification key,
    # so a disagreeing pair is separated at gen-0 (before any hashing)
    # exactly like the reference's rm_file_cmp pre-partition
    mk = match_key_cols(cfg)
    mk_names = [n for n, _ in mk]
    mk_cols = [c.alias(n) for n, c in mk]

    # gen-0 (R1) + gen-1 (R2) in ONE content pass. The reference keeps
    # the stages physically separate because stat() yields sizes
    # without reading a byte, so unique sizes are never READ
    # (lib/shredder.c:50-56). On a columnar source that economy
    # inverts: computing length(content) already decodes the full
    # content column, so a separate gen-0 pass is a whole extra corpus
    # scan that saves nothing. Computing the prefix signature
    # (the 4-page first read, lib/shredder.c:52,272-275) in the SAME
    # scan is value-equivalent: a (size, sig1) group with >= 2 members
    # implies its size group has >= 2 members, so the single staged
    # qualification below reproduces gen-0 -> gen-1 exactly — the
    # survivor set is identical, one full content pass cheaper. The
    # extra map-side work (prefix xxhash64 for rows whose size turns
    # out unique) is capped at prefix_len bytes/row, noise next to the
    # scan itself.
    # Optional ranking columns (preference tags, hardlink counts) ride
    # along on the narrow projections so -S criteria can see them.
    extras = [c for c in ("is_preferred", "link_count", "outer_link_count", "inode")
              if c in files.columns]

    if cfg.sig.fuse_full_digest:
        # single-pass variant: prefix signature AND full digest from
        # the same scan; both qualifications run staged on the narrow
        # relation, so the surviving clusters are identical to the
        # two-pass funnel (digesting a row the prefix stage would have
        # pruned can never create or destroy a qualifying
        # (size, checksum) group — pruned rows are size- or
        # prefix-unique, hence checksum-unique within their key).
        sig1 = (
            raw.select(
                *KEY, size, *mk_cols,
                F.xxhash64(F.substring(cc, 1, prefix_len)).alias("sig1"),
                digest(cc, cfg.sig.checksum_algo).alias("checksum"), *extras,
            )
            .dropDuplicates(KEY)
        )
        final = _qualify(sig1, ["size", *mk_names, "sig1"]).drop("sig1")
    else:
        sig1 = (
            raw.select(
                *KEY, size, *mk_cols,
                F.xxhash64(F.substring(cc, 1, prefix_len)).alias("sig1"),
            )
            .dropDuplicates(KEY)
        )
        surv1 = _qualify(sig1, ["size", *mk_names, "sig1"])

        # final generation: full digest (-a selectable) for remaining
        # survivors, again map-side; survivor keys are narrow ->
        # broadcast. NOTE: no explicit broadcast() hints on
        # survivor-key sets — they scale with the number of
        # duplicate-candidate files (potentially a large corpus
        # fraction), so a forced broadcast would OOM the driver on a
        # duplicate-heavy corpus. AQE converts these semi-joins to
        # broadcasts at runtime when the survivor set is actually
        # small.
        final = (
            raw.join(surv1.select(*KEY), KEY, "left_semi")
            .select(
                *KEY, size, *mk_cols,
                digest(cc, cfg.sig.checksum_algo).alias("checksum"), *extras,
            )
            .dropDuplicates(KEY)
        )
    clustered = _pin(_qualify(final, ["size", *mk_names, "checksum"]))

    if cfg.byte_confirm:
        # paranoid analog (lib/shredder.c:218-258): byte-equality check
        # within each sha cluster. The ONLY place content crosses a
        # shuffle — and only for clustered rows (map-side partial
        # dedup of identical contents bounds the shuffle to one copy
        # per distinct content per partition). Clusters failing the
        # check (sha collision) are dropped and surface via
        # `collision_report`.
        confirm = (
            raw.join(clustered.select(*KEY), KEY, "left_semi")
            .select(digest(cc, cfg.sig.checksum_algo).alias("checksum"), cc.alias("_cc"))
            .groupBy("checksum")
            .agg(F.count_distinct("_cc").alias("n_distinct"))
            .filter(F.col("n_distinct") == 1)
            .select("checksum")
        )
        clustered = clustered.join(confirm, "checksum", "left_semi")

    # with match keys active, same-content files under different keys
    # are DIFFERENT clusters (rmlint emits separate groups), so the
    # cluster identity extends from checksum to (checksum, keys) — the
    # id stays content-derived and partition-independent either way.
    # cluster_size rides the SAME cluster_id window partitioning the
    # rank already needs (an unordered count window whose required sort
    # is a prefix of the rank window's), so the former size aggregation
    # + re-join exchange disappears (round 6, guide §2.4 "window
    # functions partitioned by the same key as a preceding aggregation
    # do not need a second shuffle").
    out = clustered.withColumn(
        "cluster_id",
        F.sha2(F.concat_ws("\x1f", "checksum", *mk_names), 256)
        if mk_names
        else F.col("checksum"),
    )
    out = tag_originals(out, cfg.rank_criteria).withColumn(
        "cluster_size", F.count("*").over(W.partitionBy("cluster_id"))
    )
    return out.select(
        "repo", "path", "commit", "size", "checksum",
        "cluster_id", "cluster_size", "rank", "is_original",
        # optional ranking/storage columns survive for post-processing
        # (keep_hardlinked needs inode; forced-original flows need the
        # preference tag)
        *extras,
    )


def uniques(files: DataFrame, clusters: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """K5 uniques sink source: files with no twin — the complement of
    the clustered set (lib/formats/uniques.c:1-81; routing
    lib/shredder.c:1279-1281)."""
    base = size_filter(files, cfg).select(*KEY).dropDuplicates(KEY)
    return base.join(clusters.select(*KEY), KEY, "left_anti")


def collision_report(files: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Clusters whose members are NOT byte-identical under the
    configured digest (would be a hash collision; practically empty —
    exists for the paranoid contract and its test). Uses the SAME
    digest + clamp as exact_clusters so the report corresponds to the
    clusters byte_confirm actually checks."""
    base = clamp_filter(size_filter(files, cfg), cfg)
    cc = clamped_content(cfg)
    # path doubles are byte-identical rows, so distinct-counting keys
    # (not deduplicating rows) keeps content out of any pre-shuffle
    # dedup; map-side partial distinct bounds the content shuffle.
    final = base.select(
        *KEY, digest(cc, cfg.sig.checksum_algo).alias("checksum"), cc.alias("content")
    )
    return (
        final.groupBy("checksum")
        .agg(
            F.count_distinct("content").alias("n_distinct"),
            F.count_distinct(F.struct(*KEY)).alias("n_rows"),
        )
        .filter((F.col("n_distinct") > 1) & (F.col("n_rows") >= 2))
    )


def session_totals(clusters: DataFrame) -> DataFrame:
    """A7 session totals (rm_shred_dupe_totals, lib/shredder.c:1333-1348;
    counters lib/session.h:84-101): dupes, sets, duplicate bytes
    (non-original rows), original bytes."""
    return clusters.agg(
        F.sum(F.when(~F.col("is_original"), 1).otherwise(0)).alias("dup_counter"),
        F.count_distinct("cluster_id").alias("dup_group_counter"),
        F.sum(F.when(~F.col("is_original"), F.col("size")).otherwise(0)).alias("duplicate_bytes"),
        F.sum(F.when(F.col("is_original"), F.col("size")).otherwise(0)).alias("original_bytes"),
    )
